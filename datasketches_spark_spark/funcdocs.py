"""``DESCRIBE FUNCTION`` metadata for the engine's SQL functions.

The reference registers an ``ExpressionInfo`` usage string with every
function so SQL users can self-serve docs (``shims.scala:38-56``);
``spark.udf.register`` surfaces nothing. This module closes that DX gap
from Python: :data:`FUNCTION_DOCS` holds the docs of every row of the SQL
function table (``register.SQL_FUNCTIONS``), keyed by its name, and after
registration each function's builder is looked up in the session's
``FunctionRegistry`` and re-registered UNCHANGED together with an
enriched ``ExpressionInfo`` — pure py4j, no new execution path.
The registry is internal API, so the whole pass is best-effort: any
failure leaves the functions registered and usable, just undocumented
(a debug log notes why).
"""

from __future__ import annotations

import logging

log = logging.getLogger(__name__)

_SINCE = "1.0.0"

# name -> (usage, example rows). Extended families document their
# accumulate/combine/estimate lifecycle member-by-member.
FUNCTION_DOCS: dict[str, tuple[str, str]] = {
    "approx_percentile_ex": (
        "_FUNC_(expr, percentage[, numSplits]) - Returns the approximate "
        "percentile(s) of `expr` at the given percentage(s) from a "
        "quantile sketch (impl set by "
        "spark.sql.dataSketches.quantiles.impl).",
        "> SELECT _FUNC_(col, 0.5) FROM VALUES (0), (1), (2) AS tab(col);\n"
        "   1.0"),
    "approx_percentile_kll": (
        "_FUNC_(expr, percentage[, numSplits]) - Approximate "
        "percentile(s) via the KLL quantile sketch.",
        "> SELECT _FUNC_(col, 0.5) FROM VALUES (0), (1), (2) AS tab(col);\n"
        "   1.0"),
    "approx_percentile_req": (
        "_FUNC_(expr, percentage[, numSplits]) - Approximate "
        "percentile(s) via the REQ (relative-error, high-rank-accuracy) "
        "quantile sketch.",
        "> SELECT _FUNC_(col, 0.95) FROM VALUES (0), (1), (2) AS tab(col);"
        "\n   2.0"),
    "approx_percentile_mergeable": (
        "_FUNC_(expr, percentage[, numSplits]) - Approximate "
        "percentile(s) via the float64 mergeable quantile sketch.",
        "> SELECT _FUNC_(col, 0.5) FROM VALUES (0), (1), (2) AS tab(col);\n"
        "   1.0"),
    "approx_percentile_accumulate": (
        "_FUNC_(expr) - Aggregates `expr` into a serialized quantile "
        "sketch state (BINARY) for later combine/estimate.",
        "> SELECT approx_percentile_estimate(_FUNC_(col), 0.5) "
        "FROM VALUES (0), (1), (2) AS tab(col);\n   1.0"),
    "approx_percentile_combine": (
        "_FUNC_(state) - Merges quantile sketch states produced by "
        "approx_percentile_accumulate into one state.",
        "> SELECT approx_percentile_estimate(_FUNC_(st), 0.5) FROM "
        "(SELECT approx_percentile_accumulate(col) st FROM VALUES (0), "
        "(1), (2) AS tab(col) GROUP BY col % 2);\n   1.0"),
    "approx_percentile_estimate": (
        "_FUNC_(state, percentage) - Reads the percentile at `percentage` "
        "out of a quantile sketch state (engine or Apache DataSketches "
        "wire bytes).",
        "> SELECT _FUNC_(approx_percentile_accumulate(col), 0.5) "
        "FROM VALUES (0), (1), (2) AS tab(col);\n   1.0"),
    "approx_pmf_estimate": (
        "_FUNC_(state[, numSplits]) - Equal-width histogram mass from a "
        "quantile sketch state: `numSplits` (default 9) bins over "
        "[min, max].",
        "> SELECT _FUNC_(approx_percentile_accumulate(col), 2) "
        "FROM VALUES (0), (1), (2), (3) AS tab(col);\n   [0.5,0.5]"),
    "approx_freqitems": (
        "_FUNC_(expr[, maxMapSize]) - Frequent items of `expr` "
        "(NO_FALSE_POSITIVES, estimate-descending) as an array of "
        "(item, estimated) structs.",
        "> SELECT _FUNC_(col) FROM VALUES ('a'), ('a'), ('b') AS "
        "tab(col);\n   [{a, 2}, {b, 1}]"),
    "approx_freqitems_accumulate": (
        "_FUNC_(expr[, maxMapSize]) - Aggregates `expr` into a serialized "
        "frequent-items sketch state (BINARY).",
        "> SELECT approx_freqitems_estimate(_FUNC_(col)) FROM VALUES "
        "('a'), ('a'), ('b') AS tab(col);\n   [{a, 2}, {b, 1}]"),
    "approx_freqitems_combine": (
        "_FUNC_(state) - Merges frequent-items sketch states into one "
        "state.",
        "> SELECT approx_freqitems_estimate(_FUNC_(st)) FROM (SELECT "
        "approx_freqitems_accumulate(col) st FROM VALUES ('a'), ('b') AS "
        "tab(col) GROUP BY col);\n   [{a, 1}, {b, 1}]"),
    "approx_freqitems_estimate": (
        "_FUNC_(state) - Reads the frequent-items list out of a sketch "
        "state (engine or Apache DataSketches wire bytes).",
        "> SELECT _FUNC_(approx_freqitems_accumulate(col)) FROM VALUES "
        "('a'), ('a') AS tab(col);\n   [{a, 2}]"),
    "approx_count_distinct_ex": (
        "_FUNC_(expr) - Approximate distinct count of `expr` at CPC-class "
        "accuracy (engine HLL; exact below sketch capacity).",
        "> SELECT _FUNC_(col) FROM VALUES (1), (2), (1) AS tab(col);\n"
        "   2"),
    "approx_count_distinct_cpc": (
        "_FUNC_(expr[, lgK]) - Approximate distinct count via the "
        "CPC-class sketch family.",
        "> SELECT _FUNC_(col) FROM VALUES (1), (2), (1) AS tab(col);\n"
        "   2"),
    "approx_count_distinct_hll": (
        "_FUNC_(expr[, lgK]) - Approximate distinct count via the "
        "Spark-native DataSketches HLL aggregate (JVM partial "
        "aggregation).",
        "> SELECT _FUNC_(col) FROM VALUES (1), (2), (1) AS tab(col);\n"
        "   2"),
    "approx_count_distinct_accumulate": (
        "_FUNC_(expr) - Aggregates `expr` into a serialized distinct-count "
        "sketch state (BINARY).",
        "> SELECT approx_count_distinct_estimate(_FUNC_(col)) FROM "
        "VALUES (1), (2), (1) AS tab(col);\n   2"),
    "approx_count_distinct_combine": (
        "_FUNC_(state) - Merges distinct-count sketch states "
        "(family-agnostic: engine HLL/Theta and Apache DataSketches "
        "HLL/CPC/Theta wire states all merge).",
        "> SELECT approx_count_distinct_estimate(_FUNC_(st)) FROM (SELECT"
        " approx_count_distinct_accumulate(col) st FROM VALUES (1), (2) "
        "AS tab(col) GROUP BY col);\n   2"),
    "approx_count_distinct_estimate": (
        "_FUNC_(state) - Reads the distinct-count estimate out of a "
        "sketch state (byte-sniffed: engine or Apache DataSketches "
        "HLL/CPC/Theta wire bytes).",
        "> SELECT _FUNC_(approx_count_distinct_accumulate(col)) FROM "
        "VALUES (1), (2), (1) AS tab(col);\n   2"),
    # --- engine extensions beyond the reference surface ---
    "approx_set_intersection": (
        "_FUNC_(stateA, stateB) - Estimated intersection cardinality of "
        "two Theta sketch states.",
        "> SELECT _FUNC_(a, b) FROM states;\n   42"),
    "approx_set_jaccard": (
        "_FUNC_(stateA, stateB) - Estimated Jaccard similarity of two "
        "Theta sketch states.",
        "> SELECT _FUNC_(a, b) FROM states;\n   0.25"),
    "approx_set_difference": (
        "_FUNC_(stateA, stateB) - Estimated cardinality of A-not-B from "
        "two Theta sketch states.",
        "> SELECT _FUNC_(a, b) FROM states;\n   7"),
    "approx_join_size": (
        "_FUNC_(stateA, stateB) - Estimated equi-join output cardinality "
        "from two frequent-items states over the join key.",
        "> SELECT _FUNC_(a, b) FROM states;\n   12345"),
    "approx_ks_distance": (
        "_FUNC_(stateA, stateB) - Two-sample Kolmogorov-Smirnov distance "
        "computed from two quantile sketch states.",
        "> SELECT _FUNC_(a, b) FROM states;\n   0.12"),
    "approx_percentile_bounds": (
        "_FUNC_(state, percentage[, eps]) - [lower, upper] quantile "
        "confidence bounds at rank tolerance `eps` from a sketch state.",
        "> SELECT _FUNC_(approx_percentile_accumulate(col), 0.95, 0.02) "
        "FROM VALUES (0), (1), (2) AS tab(col);\n   [2.0, 2.0]"),
    "approx_count_distinct_bounds": (
        "_FUNC_(state[, numStdDev]) - [lower, upper] NDV confidence "
        "bounds from a Theta sketch state.",
        "> SELECT _FUNC_(approx_count_distinct_accumulate(col)) FROM "
        "VALUES (1), (2) AS tab(col);\n   [2, 2]"),
    "approx_freqitems_maxerr": (
        "_FUNC_(state) - The frequent-items sketch's maximum estimation "
        "error (0 = exact regime).",
        "> SELECT _FUNC_(approx_freqitems_accumulate(col)) FROM VALUES "
        "('a') AS tab(col);\n   0"),
    "approx_sample_accumulate": (
        "_FUNC_(expr) - Aggregates `expr` into a serialized uniform "
        "reservoir sample state (k set by "
        "spark.sql.dataSketches.sampling.reservoirK).",
        "> SELECT approx_sample_stream_size(_FUNC_(col)) FROM VALUES "
        "(1.0) AS tab(col);\n   1"),
    "approx_sample_weighted_accumulate": (
        "_FUNC_(expr, weight) - Aggregates `expr` into a serialized "
        "weighted (A-ES) reservoir sample state.",
        "> SELECT approx_sample_stream_size(_FUNC_(col, 2.0)) FROM "
        "VALUES (1.0) AS tab(col);\n   1"),
    "approx_sample_combine": (
        "_FUNC_(state) - Merges reservoir sample states "
        "(exactly-uniform hypergeometric merge).",
        "> SELECT approx_sample_stream_size(_FUNC_(st)) FROM (SELECT "
        "approx_sample_accumulate(col) st FROM VALUES (1.0) AS tab(col) "
        "GROUP BY col);\n   1"),
    "approx_sample_estimate": (
        "_FUNC_(state) - Reads the sampled items out of a reservoir "
        "state.",
        "> SELECT _FUNC_(approx_sample_accumulate(col)) FROM VALUES "
        "(1.0) AS tab(col);\n   [1.0]"),
    "approx_sample_stream_size": (
        "_FUNC_(state) - The true stream size behind a reservoir sample "
        "state.",
        "> SELECT _FUNC_(approx_sample_accumulate(col)) FROM VALUES "
        "(1.0) AS tab(col);\n   1"),
    "approx_membership_accumulate": (
        "_FUNC_(key) - Aggregates key values into a Bloom membership "
        "filter state (no false negatives; geometry sized by conf "
        "spark.sql.dataSketches.membership.expectedItems / .fpp so "
        "partials merge bit-exactly).",
        "> SELECT approx_membership_contains(_FUNC_(k), 'a') FROM "
        "VALUES ('a'), ('b') AS tab(k);\n   true"),
    "approx_membership_accumulate_wire": (
        "_FUNC_(key) - Aggregates key values into a GENUINE Apache "
        "DataSketches BloomFilter wire image (family 21; byte-identical "
        "to datasketches-java's toByteArray for the same stream; "
        "geometry from conf membership.expectedItems/.fpp, seed 0). "
        "_wire_long hashes integral keys as 8-byte longs. All "
        "approx_membership_* read surfaces accept wire states; they "
        "cannot union with engine-native states (different hash "
        "spaces).",
        "> SELECT approx_membership_contains(_FUNC_(k), 'a') FROM "
        "VALUES ('a'), ('b') AS tab(k);\n   true"),
    "approx_membership_combine": (
        "_FUNC_(state) - Merges Bloom membership states (bitwise OR — "
        "a union homomorphism; geometry mismatch raises).",
        "> SELECT approx_membership_contains(_FUNC_(st), 'a') FROM "
        "(SELECT approx_membership_accumulate(k) AS st FROM t "
        "GROUP BY p);\n   true"),
    "approx_membership_contains": (
        "_FUNC_(state, key) - Tests key membership against a Bloom "
        "state: true for EVERY accumulated key (no false negatives); "
        "a never-seen key tests positive with probability "
        "approx_membership_fpp(state).",
        "> SELECT _FUNC_(approx_membership_accumulate(k), 'zzz') FROM "
        "VALUES ('a'), ('b') AS tab(k);\n   false"),
    "approx_membership_contains_long": (
        "_FUNC_(state, key) - approx_membership_contains with the hash "
        "path PINNED to 8-byte longs (the twin of "
        "approx_membership_accumulate_wire_long): use it to probe "
        "long-built DataSketches wire filters with bigint keys — the "
        "2-arg form dispatches on the Arrow batch dtype, which is "
        "null-dependent for nullable bigint columns.",
        "> SELECT _FUNC_(approx_membership_accumulate_wire_long(k), 7) "
        "FROM VALUES (7), (9) AS tab(k);\n   true"),
    "approx_membership_estimate": (
        "_FUNC_(state) - Distinct-key estimate decoded from a Bloom "
        "state's fill ratio (Swamidass-Baldi); NULL if saturated.",
        "> SELECT _FUNC_(approx_membership_accumulate(k)) FROM VALUES "
        "('a'), ('b'), ('a') AS tab(k);\n   2"),
    "approx_membership_fpp": (
        "_FUNC_(state) - The CURRENT false-positive probability of a "
        "Bloom membership state at its observed fill — the membership "
        "family's read-time error surface.",
        "> SELECT _FUNC_(approx_membership_accumulate(k)) < 0.01 FROM "
        "VALUES ('a') AS tab(k);\n   true"),
    "approx_tuple_accumulate": (
        "_FUNC_(key, value) - Aggregates (key, value) rows into a tuple "
        "(per-key summary) sketch state: a Theta-style sample of the "
        "distinct-key space where every retained key carries exact row "
        "count and value sum (k set by spark.sql.dataSketches.tuple.k).",
        "> SELECT approx_tuple_estimate(_FUNC_(k, v)).ndv FROM VALUES "
        "(1, 1.0), (1, 2.0), (2, 5.0) AS tab(k, v);\n   2"),
    "approx_tuple_combine": (
        "_FUNC_(state) - Merges tuple sketch states (per-key summaries "
        "add; the key sample re-cuts to the smallest k).",
        "> SELECT approx_tuple_estimate(_FUNC_(st)).rows FROM (SELECT "
        "approx_tuple_accumulate(k, v) AS st FROM t GROUP BY p);\n   42"),
    "approx_tuple_estimate": (
        "_FUNC_(state) - Decodes a tuple state to struct(ndv, rows, "
        "value_sum): distinct keys, total rows, total value. Exact while "
        "observed NDV < k.",
        "> SELECT _FUNC_(approx_tuple_accumulate(k, v)).value_sum FROM "
        "VALUES (1, 1.5), (2, 2.5) AS tab(k, v);\n   4.0"),
    "approx_tuple_segment_estimate": (
        "_FUNC_(state[, minCount]) - struct(keys, value_sum) for the "
        "segment of distinct keys with per-key row count >= minCount "
        "(default 1) — "
        "per-key-predicate analytics from the state alone.",
        "> SELECT _FUNC_(approx_tuple_accumulate(k, v), 2).keys FROM "
        "VALUES (1, 1.0), (1, 2.0), (2, 5.0) AS tab(k, v);\n   1"),
    "approx_tuple_bounds": (
        "_FUNC_(state[, numStd]) - [lower, upper] distinct-key confidence "
        "bounds from a tuple state (collapses to the exact count while "
        "the state is exact; KMV 1/sqrt(k-2) envelope at saturation).",
        "> SELECT _FUNC_(approx_tuple_accumulate(k, v), 2.0) FROM "
        "VALUES (1, 1.0), (2, 5.0) AS tab(k, v);\n   [2,2]"),
    "approx_tuple_accumulate_wire": (
        "_FUNC_(key, value) - Aggregates (key, value) rows into a "
        "GENUINE Apache DataSketches Tuple/ArrayOfDoubles compact state "
        "(wire family 9; values [1, value] so summaries are per-key row "
        "count and value sum) — readable by datasketches-java and by "
        "approx_tuple_estimate. _wire_long variant hashes integral keys "
        "like Java's update(long).",
        "> SELECT approx_tuple_estimate(_FUNC_(k, v)).ndv FROM VALUES "
        "('a', 1.0), ('b', 2.0) AS tab(k, v);\n   2"),
    # --- scalar/array twins (one fixed return type per registered name)
    "approx_percentile_ex_array": (
        "_FUNC_(expr, percentages) - approx_percentile_ex at an array of "
        "percentages; returns an array of percentiles.",
        "> SELECT _FUNC_(col, array(0.25, 0.75)) FROM VALUES (0), (1), "
        "(2), (3) AS tab(col);\n   [0.0, 2.0]"),
    "approx_percentile_kll_array": (
        "_FUNC_(expr, percentages) - approx_percentile_kll at an array "
        "of percentages.",
        "> SELECT _FUNC_(col, array(0.25, 0.75)) FROM VALUES (0), (1), "
        "(2), (3) AS tab(col);\n   [0.0, 2.0]"),
    "approx_percentile_req_array": (
        "_FUNC_(expr, percentages) - approx_percentile_req at an array "
        "of percentages.",
        "> SELECT _FUNC_(col, array(0.5, 0.95)) FROM VALUES (0), (1), "
        "(2), (3) AS tab(col);\n   [1.0, 3.0]"),
    "approx_percentile_mergeable_array": (
        "_FUNC_(expr, percentages) - approx_percentile_mergeable at an "
        "array of percentages.",
        "> SELECT _FUNC_(col, array(0.25, 0.75)) FROM VALUES (0), (1), "
        "(2), (3) AS tab(col);\n   [0.0, 2.0]"),
    "approx_percentile_estimate_array": (
        "_FUNC_(state, percentages) - Reads the percentiles at an array "
        "of percentages out of a quantile sketch state.",
        "> SELECT _FUNC_(approx_percentile_accumulate(col), "
        "array(0.25, 0.75)) FROM VALUES (0), (1), (2), (3) AS tab(col);"
        "\n   [0.0, 2.0]"),
    "approx_rank_estimate": (
        "_FUNC_(state, value) - The normalized rank of `value` (the "
        "fraction of the mass <= value) from a quantile sketch state; "
        "the inverse of approx_percentile_estimate.",
        "> SELECT _FUNC_(approx_percentile_accumulate(col), 1.0) FROM "
        "VALUES (0), (1), (2), (3) AS tab(col);\n   0.5"),
    "approx_cdf_estimate": (
        "_FUNC_(state, splitPoints) - The cumulative mass at each split "
        "point, plus a trailing 1.0, from a quantile sketch state.",
        "> SELECT _FUNC_(approx_percentile_accumulate(col), array(1.0)) "
        "FROM VALUES (0), (1), (2), (3) AS tab(col);\n   [0.5, 1.0]"),
    "approx_freqitems_long": (
        "_FUNC_(expr) - approx_freqitems over BIGINT items: the items "
        "come back as longs.",
        "> SELECT _FUNC_(col) FROM VALUES (7), (7), (9) AS tab(col);\n"
        "   [{7, 2}, {9, 1}]"),
    "approx_freqitems_estimate_long": (
        "_FUNC_(state) - approx_freqitems_estimate for a state of BIGINT "
        "items (one written with item_type='long' by the DataFrame API).",
        "> SELECT _FUNC_(st) FROM long_item_states;\n   [{7, 2}, {9, 1}]"),
    "approx_count_distinct_theta": (
        "_FUNC_(expr) - Approximate distinct count via the Theta (KMV) "
        "sketch family: exact below its k entries.",
        "> SELECT _FUNC_(col) FROM VALUES (1), (2), (1) AS tab(col);\n"
        "   2"),
    "approx_count_distinct_accumulate_theta": (
        "_FUNC_(expr) - Aggregates `expr` into a serialized Theta (KMV) "
        "state, whatever distinctCnt.sketchImpl is; the state the set "
        "functions (approx_set_*) read.",
        "> SELECT approx_count_distinct_estimate(_FUNC_(col)) FROM "
        "VALUES (1), (2), (1) AS tab(col);\n   2"),
    "approx_count_distinct_accumulate_cpc": (
        "_FUNC_(expr) - Aggregates `expr` into a GENUINE Apache "
        "DataSketches CPC wire image (family 16), readable by "
        "datasketches-java; items hash as UTF-8 strings.",
        "> SELECT approx_count_distinct_estimate(_FUNC_(col)) FROM "
        "VALUES ('a'), ('b'), ('a') AS tab(col);\n   2"),
    "approx_count_distinct_accumulate_cpc_long": (
        "_FUNC_(expr) - approx_count_distinct_accumulate_cpc hashing "
        "integral keys as 8-byte longs, like Java's update(long).",
        "> SELECT approx_count_distinct_estimate(_FUNC_(col)) FROM "
        "VALUES (1), (2), (1) AS tab(col);\n   2"),
    "approx_count_distinct_accumulate_theta_wire": (
        "_FUNC_(expr) - Aggregates `expr` into a GENUINE Apache "
        "DataSketches compact Theta wire image (family 3), readable by "
        "datasketches-java; items hash as UTF-8 strings.",
        "> SELECT approx_count_distinct_estimate(_FUNC_(col)) FROM "
        "VALUES ('a'), ('b'), ('a') AS tab(col);\n   2"),
    "approx_count_distinct_accumulate_theta_wire_long": (
        "_FUNC_(expr) - approx_count_distinct_accumulate_theta_wire "
        "hashing integral keys as 8-byte longs, like Java's "
        "update(long).",
        "> SELECT approx_count_distinct_estimate(_FUNC_(col)) FROM "
        "VALUES (1), (2), (1) AS tab(col);\n   2"),
    "approx_sample_accumulate_long": (
        "_FUNC_(expr) - approx_sample_accumulate over BIGINT items.",
        "> SELECT approx_sample_estimate_long(_FUNC_(col)) FROM VALUES "
        "(2), (1) AS tab(col);\n   [1, 2]"),
    "approx_sample_accumulate_string": (
        "_FUNC_(expr) - approx_sample_accumulate over STRING items.",
        "> SELECT approx_sample_estimate_string(_FUNC_(col)) FROM VALUES "
        "('b'), ('a') AS tab(col);\n   [a, b]"),
    "approx_sample_weighted_accumulate_long": (
        "_FUNC_(expr, weight) - approx_sample_weighted_accumulate over "
        "BIGINT items.",
        "> SELECT approx_sample_estimate_long(_FUNC_(col, 1.0)) FROM "
        "VALUES (2), (1) AS tab(col);\n   [1, 2]"),
    "approx_sample_weighted_accumulate_string": (
        "_FUNC_(expr, weight) - approx_sample_weighted_accumulate over "
        "STRING items.",
        "> SELECT approx_sample_estimate_string(_FUNC_(col, 1.0)) FROM "
        "VALUES ('b'), ('a') AS tab(col);\n   [a, b]"),
    "approx_sample_estimate_long": (
        "_FUNC_(state) - Reads the sampled BIGINT items out of a "
        "reservoir state.",
        "> SELECT _FUNC_(approx_sample_accumulate_long(col)) FROM VALUES "
        "(2), (1) AS tab(col);\n   [1, 2]"),
    "approx_sample_estimate_string": (
        "_FUNC_(state) - Reads the sampled STRING items out of a "
        "reservoir state.",
        "> SELECT _FUNC_(approx_sample_accumulate_string(col)) FROM "
        "VALUES ('b'), ('a') AS tab(col);\n   [a, b]"),
    "approx_tuple_accumulate_wire_long": (
        "_FUNC_(key, value) - approx_tuple_accumulate_wire hashing "
        "integral keys as 8-byte longs, like Java's update(long).",
        "> SELECT approx_tuple_estimate(_FUNC_(k, v)).ndv FROM VALUES "
        "(1, 1.0), (2, 2.0) AS tab(k, v);\n   2"),
    "approx_membership_accumulate_wire_long": (
        "_FUNC_(key) - approx_membership_accumulate_wire hashing integral "
        "keys as 8-byte longs; probe it with "
        "approx_membership_contains_long.",
        "> SELECT approx_membership_contains_long(_FUNC_(k), 7) FROM "
        "VALUES (7), (9) AS tab(k);\n   true"),
    "import_datasketches_state": (
        "_FUNC_(bytes) - Converts an Apache DataSketches wire state "
        "(KLL/REQ/Doubles/frequent-items/HLL/CPC/Theta) into the "
        "engine's state format.",
        "> SELECT approx_percentile_estimate(_FUNC_(wire_bytes), 0.5) "
        "FROM t;\n   1.0"),
    "export_datasketches_state": (
        "_FUNC_(state) - Converts an engine sketch state into Apache "
        "DataSketches wire bytes readable by datasketches-java and the "
        "reference.",
        "> SELECT _FUNC_(approx_count_distinct_accumulate_cpc(col)) "
        "FROM t;\n   <CPC wire bytes>"),
}


def install_function_docs(spark) -> None:
    """Attach ``ExpressionInfo`` docs to every function of the SQL
    function table that is currently registered. Best-effort over
    internal API."""
    from .register import SQL_FUNCTIONS
    try:
        jvm = spark._jvm
        reg = spark._jsparkSession.sessionState().functionRegistry()
        mk_ident = jvm.org.apache.spark.sql.catalyst.FunctionIdentifier
        mk_info = jvm.org.apache.spark.sql.catalyst.expressions \
            .ExpressionInfo
    except Exception as e:  # pragma: no cover - depends on Spark internals
        log.debug("DESCRIBE FUNCTION docs unavailable: %s", e)
        return
    for name in SQL_FUNCTIONS:
        try:
            usage, example = FUNCTION_DOCS[name]
            ident = mk_ident(name)
            opt = reg.lookupFunctionBuilder(ident)
            if opt.isEmpty():
                continue
            info = mk_info(
                "datasketches_spark_spark", None, name,
                usage.replace("_FUNC_", name), "",
                "    " + example.replace("_FUNC_", name).replace(
                    "\n", "\n    "),
                "", "agg_funcs", _SINCE, "", "python_udf")
            reg.registerFunction(ident, info, opt.get())
        except Exception as e:  # pragma: no cover
            log.debug("DESCRIBE FUNCTION docs skipped for %s: %s", name, e)
