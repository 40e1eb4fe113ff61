"""q34 estimates its collected tuple, bloom and CPC states in the
driver. The per-state legs keep the estimate error rule (a corrupt
state gives null and one warning naming the estimate), and the merged
legs raise on a corrupt state, as ``*_combine`` does."""

import json
import logging
import os
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod
from datasketches_spark_spark.sketches import BloomFilter, TupleSketch
from datasketches_spark_spark.sketches.theta import hash_series

CORRUPT = b"\x00junk-state"
SOURCES = {"de": ["a", "b"], "en": ["c"], "fr": ["d", "e"]}


def _tuple(keys):
    sk = TupleSketch(k=64)
    sk.update_batch(hash_series(pd.Series(keys, dtype=object)),
                    np.ones(len(keys)))
    return sk.serialize()


def _bloom(keys):
    sk = BloomFilter.design(4096, 0.01)
    sk.update_hashes(hash_series(pd.Series(keys, dtype=object)))
    return sk.serialize()


def _cpc():
    path = os.path.join(os.path.dirname(__file__), "data",
                        "cpc_fixtures.json")
    with open(path) as f:
        fx = json.load(f)
    return bytes.fromhex(fx["sketches"][5]["bytes"])


def _legs(tuples, blooms, cpcs):
    return entrymod._q34_per_state_legs(tuples, blooms, cpcs, SOURCES)


def _warnings(caplog):
    return [r.getMessage() for r in caplog.records
            if r.levelno == logging.WARNING]


@pytest.fixture
def udf_log(caplog):
    with caplog.at_level(logging.WARNING,
                         logger="datasketches_spark_spark.functions.udfs"):
        yield caplog


def test_valid_states_estimate():
    tup, bm, cpc = _legs({"de": _tuple(["a", "a", "b"])},
                         {lang: _bloom(s) for lang, s in SOURCES.items()},
                         {"de": _cpc()})
    assert tup == [("de", 3, 3.0)]
    assert bm == [(lang, 1, 0) for lang in sorted(SOURCES)]
    assert cpc == [("de", 2)]


@pytest.mark.parametrize("leg, name", [
    (0, "approx_tuple_estimate"),
    (1, "approx_membership_contains"),
    (2, "approx_count_distinct_estimate")])
def test_corrupt_state_is_null_with_one_warning(udf_log, leg, name):
    states = [{"de": _tuple(["a"])}, {"de": _bloom(["a", "b"])},
              {"de": _cpc()}]
    states[leg] = {**states[leg], "en": CORRUPT, "fr": CORRUPT}
    rows = dict((r[0], r[1:]) for r in _legs(*states)[leg])
    assert set(rows["en"]) == set(rows["fr"]) == {None}
    assert None not in rows["de"]
    warned = _warnings(udf_log)
    assert len(warned) == 1
    assert warned[0].startswith(f"{name}: 2 corrupt state(s) -> null")


def test_lang_without_a_bloom_state_is_null(udf_log):
    _, bm, _ = _legs({}, {"de": _bloom(["a", "b"])}, {})
    assert bm == [("de", 1, 0), ("en", None, None), ("fr", None, None)]
    assert _warnings(udf_log) == []


@pytest.mark.parametrize("make", [_tuple, _bloom])
def test_corrupt_state_in_a_merge_raises(make):
    good = make(["a"])
    assert entrymod._merged_state([good, make(["b"])]) is not None
    with pytest.raises(Exception):
        entrymod._merged_state([good, CORRUPT])
