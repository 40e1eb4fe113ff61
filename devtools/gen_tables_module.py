import json
import os

here = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(here, "cpc_tables_raw.json")) as f:
    raw = json.load(f)

def fmt_ints(name, vals, per_line=12):
    lines = [f"{name} = ("]
    for i in range(0, len(vals), per_line):
        lines.append("    " + ", ".join(str(v & 0xffff if v < 0 else v) for v in vals[i:i+per_line]) + ",")
    lines.append(")")
    return "\n".join(lines)

def fmt_nested(name, tables, per_line=12, mask=0xffff):
    lines = [f"{name} = ("]
    for t in tables:
        lines.append("    (")
        for i in range(0, len(t), per_line):
            lines.append("        " + ", ".join(str(v & mask if v < 0 else v) for v in t[i:i+per_line]) + ",")
        lines.append("    ),")
    lines.append(")")
    return "\n".join(lines)

def fmt_floats(name, vals, per_line=4):
    lines = [f"{name} = ("]
    for i in range(0, len(vals), per_line):
        lines.append("    " + ", ".join(repr(v) for v in vals[i:i+per_line]) + ",")
    lines.append(")")
    return "\n".join(lines)

hdr = '''"""Constant tables of the Apache DataSketches CPC serialized format.

These are normative constants of the PUBLIC CPC wire format (Apache
DataSketches, Apache-2.0) — the length-limited-unary code for surprising-
value column deltas, the 22 static prefix-code tables for window bytes
(16 steady-state phases + 6 mid-range pseudo-phases), the 16 column
permutations used by the sliding flavor, and the ICON estimator's
polynomial coefficients. They play the same role DEFLATE's fixed Huffman
tables play in RFC 1951: without them the byte stream is not decodable,
so they ARE part of the serialization spec. Values correspond to
datasketches-java 6.2.0 (the library bundled with Spark 4.x), whose wire
format is stable across library versions (serial version 1).

Encoding-table entry layout (16-bit): low 12 bits = codeword (appended to
the bit stream LSB-first), high 4 bits = codeword length. Decoding LUTs
(4096-entry, 12-bit peek -> (length << 8) | symbol) are derived from the
encoding tables at import time below, which is also how the library's own
decoding tables are constructed.

Reference parity note: the reference engine (maropu/datasketches-spark)
serializes its default distinct-count accumulate states as CPC bytes via
this exact library (distinctCntSketches.scala:57-66).

Generated, not hand-edited: ``devtools/cpc_extract2.py`` reads the tables
out of datasketches-java (through ``devtools/cpc_jvm.py``) into
``cpc_tables_raw.json``, and ``devtools/gen_tables_module.py`` writes
this module from that JSON, each from any working directory.
"""

'''

parts = [hdr]
parts.append(fmt_ints("LENGTH_LIMITED_UNARY_ENCODING_65", raw["llu_enc"]))
parts.append(fmt_nested("ENCODING_TABLES_FOR_HIGH_ENTROPY_BYTE", raw["enc_tables"]))
parts.append(fmt_nested("COLUMN_PERMUTATIONS_FOR_ENCODING", raw["col_perm_enc"], per_line=14, mask=0xff))
parts.append(f"ICON_POLYNOMIAL_NUM_COEFFICIENTS = {raw['icon_num']}")
parts.append(fmt_floats("ICON_POLYNOMIAL_COEFFICIENTS", raw["icon_coef"]))

deriv = '''

def _derive_decode_lut(encoding_table):
    """Invert a 12-bit-max prefix code into a 4096-entry peek LUT.

    For each symbol with (codeword, length), every 12-bit window whose low
    ``length`` bits equal the codeword decodes to that symbol; entry =
    (length << 8) | symbol.
    """
    lut = [0] * 4096
    for symbol, info in enumerate(encoding_table):
        code = info & 0xFFF
        length = info >> 12
        if length == 0:
            continue
        step = 1 << length
        for high in range(0, 4096, step):
            lut[high | code] = (length << 8) | symbol
    return tuple(lut)


LENGTH_LIMITED_UNARY_DECODING_65 = _derive_decode_lut(
    LENGTH_LIMITED_UNARY_ENCODING_65)
DECODING_TABLES_FOR_HIGH_ENTROPY_BYTE = tuple(
    _derive_decode_lut(t) for t in ENCODING_TABLES_FOR_HIGH_ENTROPY_BYTE)


def _invert_permutation(perm):
    inv = [0] * len(perm)
    for i, p in enumerate(perm):
        inv[p] = i
    return tuple(inv)


COLUMN_PERMUTATIONS_FOR_DECODING = tuple(
    _invert_permutation(p) for p in COLUMN_PERMUTATIONS_FOR_ENCODING)
'''
parts.append(deriv)
repo = os.path.dirname(here)
with open(os.path.join(repo, "datasketches_spark_spark", "compat",
                       "_cpc_tables.py"), "w") as f:
    f.write("\n\n".join(parts))
import subprocess
print(subprocess.run(["python", "-c", "from datasketches_spark_spark.compat import _cpc_tables as t; print(len(t.LENGTH_LIMITED_UNARY_DECODING_65), len(t.DECODING_TABLES_FOR_HIGH_ENTROPY_BYTE), len(t.ICON_POLYNOMIAL_COEFFICIENTS))"], capture_output=True, text=True, cwd=repo).stdout)
