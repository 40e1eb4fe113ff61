"""Generate CPC decoder validation fixtures from datasketches-java 6.2.0.

Output: tests/data/cpc_fixtures.json — serialized images + ground truth
(numCoupons, estimate, flavor/format, windowOffset, bit-matrix sha256),
helper-function sweeps, and union cases. Dev tool; not part of runtime.
"""
import hashlib, json, struct
from cpc_jvm import gateway

gw = gateway()
jvm = gw.jvm

def static_call(cname, mname, *args):
    cls = jvm.java.lang.Class.forName(cname)
    for m in cls.getDeclaredMethods():
        if m.getName() == mname and len(m.getParameterTypes()) == len(args):
            m.setAccessible(True)
            arr = gw.new_array(jvm.java.lang.Object, len(args))
            for i, a in enumerate(args):
                arr[i] = a
            return m.invoke(None, arr)
    raise KeyError(mname)

CPC = "org.apache.datasketches.cpc."

def mk(lgk, n, merged=False, items="long", salt=0):
    sk = jvm.org.apache.datasketches.cpc.CpcSketch(lgk)
    for i in range(n):
        if items == "long":
            sk.update(i * 982451653 + salt)
        else:
            sk.update(f"item-{salt}-{i}")
    if merged:
        u = jvm.org.apache.datasketches.cpc.CpcUnion(lgk)
        u.update(sk)
        sk = u.getResult()
    return sk

def matrix_of(sk):
    m = static_call(CPC + "CpcUtil", "bitMatrixOfSketch", sk)
    return list(m)

def matrix_sha(mat):
    b = b"".join(struct.pack("<q", x) for x in mat)
    return hashlib.sha256(b).hexdigest()

fixtures = {"sketches": [], "helpers": {}, "unions": []}

cases = []
# lgk 4 and 8 sweep the 16 steady-state phase tables and deep sliding
# offsets with tiny n (phase = (c >> (lgk-4)) & 15); lgk 10-12 cover the
# reference-realistic sizes; lgk 16 covers sparse/hybrid at larger k.
for lgk in (4, 8, 10, 11, 12):
    k = 1 << lgk
    ns = sorted(set([0, 1, 2, 3, 5, 17, max(1, (3 * k) // 32 - 1), (3 * k) // 32 + 2,
                     k // 2 - 3, k // 2 + 5, k, 2 * k, (27 * k) // 8 - 5, (27 * k) // 8 + 9,
                     4 * k, 6 * k, 9 * k]))
    if lgk <= 10:
        ns += [20 * k, 60 * k]
    for n in ns:
        for merged in (False, True):
            cases.append((lgk, n, merged, "long", n % 7))
for n in (5, 700, 3000, 40000):
    cases.append((16, n, False, "long", 3))
    cases.append((16, n, True, "long", 3))
# string-item cases (reference accumulates strings)
for n in (3, 50, 700, 3000):
    cases.append((11, n, True, "str", 1))
    cases.append((11, n, False, "str", 1))

for lgk, n, merged, items, salt in cases:
    sk = mk(lgk, n, merged, items, salt)
    b = bytes(sk.toByteArray())
    mat = matrix_of(sk)
    fixtures["sketches"].append({
        "lgk": lgk, "n": n, "merged": merged, "items": items,
        "bytes": b.hex(),
        "num_coupons": None,
        "estimate": sk.getEstimate(),
        "flavor": sk.getFlavor().toString(),
        "popcount": int(static_call(CPC + "CpcUtil", "countBitsSetInMatrix", static_call(CPC + "CpcUtil", "bitMatrixOfSketch", sk))),
        "matrix_sha": matrix_sha(mat),
        "matrix": [struct.pack("<q", x).hex() for x in mat] if lgk <= 8 else None,
    })

# helper sweeps
sweep_lgk = list(range(4, 22))
cs = sorted(set(int(1.37 ** i) for i in range(1, 60)))
pp, off, fl, gb, icon = [], [], [], [], []
for lgk in sweep_lgk:
    for c in cs:
        pp.append([lgk, c, int(static_call(CPC + "CpcCompression", "determinePseudoPhase", lgk, c))])
        off.append([lgk, c, int(static_call(CPC + "CpcUtil", "determineCorrectOffset", lgk, c))])
        fl.append([lgk, c, static_call(CPC + "CpcUtil", "determineFlavor", lgk, c).toString()])
        icon.append([lgk, c, float(static_call(CPC + "IconEstimator", "getIconEstimate", lgk, c))])
for kk in (16, 100, 1024, 5000, 1 << 16, 1 << 20):
    for cnt in cs:
        gb.append([kk, cnt, int(static_call(CPC + "CpcCompression", "golombChooseNumberOfBaseBits", kk, cnt))])
fixtures["helpers"] = {"pseudo_phase": pp, "offset": off, "flavor": fl, "golomb_base_bits": gb, "icon": icon}

# unions, incl. mixed lgK downsampling
upairs = [(11, 11, 40, 70), (11, 11, 3000, 5000), (12, 10, 900, 20000), (10, 12, 64000, 128), (11, 11, 0, 9)]
for lgk_a, lgk_b, na, nb in upairs:
    a = mk(lgk_a, na, False, "long", 11)
    bsk = mk(lgk_b, nb, False, "long", 12)
    u = jvm.org.apache.datasketches.cpc.CpcUnion(min(lgk_a, lgk_b))
    u.update(a); u.update(bsk)
    res = u.getResult()
    fixtures["unions"].append({
        "lgk_a": lgk_a, "lgk_b": lgk_b, "na": na, "nb": nb,
        "bytes_a": bytes(a.toByteArray()).hex(),
        "bytes_b": bytes(bsk.toByteArray()).hex(),
        "union_estimate": res.getEstimate(),
        "union_bytes": bytes(res.toByteArray()).hex(),
        "union_num_coupons": int(static_call(CPC + "CpcUtil", "countBitsSetInMatrix", static_call(CPC + "CpcUtil", "bitMatrixOfSketch", res))),
    })

import os
out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "tests", "data", "cpc_fixtures.json")
os.makedirs(os.path.dirname(out), exist_ok=True)
with open(out, "w") as f:
    json.dump(fixtures, f)
print("sketch fixtures:", len(fixtures["sketches"]))
print("unions:", len(fixtures["unions"]))
print("size:", os.path.getsize(out))
