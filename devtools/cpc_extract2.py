import json
import os

from cpc_jvm import gateway

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                   "cpc_tables_raw.json")
gw = gateway()
jvm = gw.jvm

def static_field(cname, fname):
    cls = jvm.java.lang.Class.forName(cname)
    f = cls.getDeclaredField(fname)
    f.setAccessible(True)
    return f.get(None)

CD = "org.apache.datasketches.cpc.CompressionData"
IPC = "org.apache.datasketches.cpc.IconPolynomialCoefficients"

llu_enc = list(static_field(CD, "lengthLimitedUnaryEncodingTable65"))
enc_tables = [list(t) for t in static_field(CD, "encodingTablesForHighEntropyByte")]
col_perm_enc = [list(t) for t in static_field(CD, "columnPermutationsForEncoding")]
icon_deg = static_field(IPC, "iconPolynomialDegree")
icon_num = static_field(IPC, "iconPolynomialNumCoefficients")
icon_tsz = static_field(IPC, "iconTableSize")
icon_coef = list(static_field(IPC, "iconPolynomialCoefficents"))

out = dict(llu_enc=llu_enc,
           enc_tables=enc_tables,
           col_perm_enc=col_perm_enc,
           icon_deg=icon_deg, icon_num=icon_num, icon_tsz=icon_tsz,
           icon_coef=icon_coef)
with open(OUT, "w") as f:
    json.dump(out, f)
print("llu", len(llu_enc), llu_enc[:10])
print("enc_tables", len(enc_tables), "x", len(enc_tables[0]))
print("col_perm", len(col_perm_enc), "x", len(col_perm_enc[0]), col_perm_enc[0][:10])
print("icon", icon_deg, icon_num, icon_tsz, icon_coef[:5])
