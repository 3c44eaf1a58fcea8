#!/usr/bin/env python3
"""Derive SCALING.md (per-query cross-SF table + per-family log-log
slopes) from the BENCH_SCALING_<tag>.json ledgers graft.Scaling emits.

Usage: python3 tools/scaling_report.py [out.md]
Reads BENCH_SCALING_0.01.json / _0.1.json / _1.json from the repo root.

Slope = log(t_sf1 / t_sf0.01) / log(100): the exponent b in t ~ sf^b
fit through the endpoints (the mid point is printed for eyeballing
curvature). b <= ~1.1 means at-most-linear scaling in data size; the
graph family's b reflects edge-cut growth, reported separately.
Sub-second timings are floor-noise (session fixed costs dominate), so
each query's slope is also printed with a flag when t_sf1 < 0.5 s —
those rows say "too fast to scale-test", not "scales perfectly".
"""
import json
import math
import sys
from collections import defaultdict

TAGS = ["0.01", "0.1", "1"]

FAMILIES = {
    "core": ["q01", "q02", "q03", "q04", "q05", "q06", "q07", "q08", "q09",
             "q10", "q11", "q12", "q13", "q14", "q15", "q16", "q17", "q18",
             "q19", "q20", "q21", "q22", "q23", "q24", "q25", "q38"],
    "dedup": ["q26", "q27", "q28", "q29", "q51", "q54", "q73", "q74", "q79",
              "q127", "q137", "q146", "q179", "q180", "q186", "q188", "q201",
              "q202", "q213"],
    "similarity": ["q30", "q31", "q32", "q41", "q52", "q64", "q68", "q71",
                   "q155", "q175", "q185", "q207"],
    "text": ["q33", "q34", "q35", "q36", "q37", "q39", "q59", "q60", "q61",
             "q67", "q76", "q102", "q125", "q151", "q166", "q177", "q211",
             "q212", "q215", "q216"],
    "graph": ["q114", "q118", "q129", "q130", "q133", "q134", "q144", "q154",
              "q167", "q172", "q194"],
    "sketch": ["q40", "q131", "q135", "q136", "q138", "q139", "q140", "q141",
               "q142", "q157", "q183", "q217", "q218"],
    "classifier": ["q69", "q203", "q204"],
    "quant": ["q44", "q50", "q55", "q56", "q63", "q89", "q122", "q168",
              "q169", "q170", "q173", "q181", "q187", "q195", "q198", "q205",
              "q208", "q209", "q210", "q214"],
    "stats": ["q87", "q100", "q101", "q105", "q106", "q108", "q109", "q111",
              "q112", "q121", "q126", "q147", "q148", "q153", "q159", "q162",
              "q163", "q164", "q182", "q184", "q189", "q190", "q197"],
    "behavior": ["q90", "q91", "q92", "q93", "q96", "q97", "q103", "q115",
                 "q117", "q123", "q124", "q132", "q150", "q152", "q158",
                 "q160", "q161", "q165"],
    "relational": ["q42", "q43", "q45", "q46", "q48", "q49", "q84", "q85",
                   "q86", "q88", "q94", "q95", "q98", "q99", "q113", "q116",
                   "q120", "q176", "q191", "q192", "q193"],
    "search": ["q62", "q81", "q110", "q128", "q143", "q145", "q119", "q199"],
    "tokenizer": ["q65", "q66", "q70", "q77", "q80", "q104", "q196"],
    "media": ["q47", "q58", "q82", "q156", "q171", "q174", "q178", "q219"],
    "curation": ["q53", "q72", "q75", "q78", "q83", "q107", "q149", "q200",
                 "q206"],
    "asof": ["q57"],
}


def family_of(name: str) -> str:
    prefix = name.split("_")[0]
    for fam, qs in FAMILIES.items():
        if prefix in qs:
            return fam
    return "other"


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "SCALING.md"
    ledgers = {}
    for tag in TAGS:
        with open(f"BENCH_SCALING_{tag}.json") as f:
            ledgers[tag] = json.load(f)

    names = sorted(ledgers["1"]["queries"].keys())
    rows = []
    for n in names:
        ts = [ledgers[t]["queries"].get(n, -1.0) for t in TAGS]
        if any(t is None or t < 0 for t in ts):
            continue
        slope = math.log(ts[2] / ts[0]) / math.log(100) if ts[0] > 0 else None
        rows.append((n, family_of(n), ts, slope))

    fam_agg = defaultdict(lambda: [0.0, 0.0, 0.0])
    for _, fam, ts, _ in rows:
        for i, t in enumerate(ts):
            fam_agg[fam][i] += t

    lines = []
    lines.append("# SCALING — full-ledger cross-SF curves "
                 "(one session, graft.Scaling)")
    lines.append("")
    for tag in TAGS:
        led = ledgers[tag]
        lines.append(
            f"- sf{tag}: total {led['value']:.1f} s over "
            f"{len(led['queries'])} queries, sentinels "
            f"{led['sentinel_start']}/{led['sentinel_end']}, "
            f"dir `{led['sf']}`")
    lines.append("")
    lines.append("Slope = log(t_sf1/t_sf0.01)/log(100), the exponent b in "
                 "t ~ sf^b through the endpoints. b <= ~1.1 = at-most-linear "
                 "in data size. Queries with t_sf1 < 0.5 s are session-"
                 "fixed-cost dominated (flagged `floor`): their slope is "
                 "noise, not evidence.")
    lines.append("")
    lines.append("## Per-family totals")
    lines.append("")
    lines.append("| family | sf0.01 (s) | sf0.1 (s) | sf1 (s) | slope b |")
    lines.append("|---|---|---|---|---|")
    for fam in sorted(fam_agg):
        a = fam_agg[fam]
        b = math.log(a[2] / a[0]) / math.log(100) if a[0] > 0 else float("nan")
        lines.append(f"| {fam} | {a[0]:.2f} | {a[1]:.2f} | {a[2]:.2f} "
                     f"| {b:.2f} |")
    tot = [sum(a[i] for a in fam_agg.values()) for i in range(3)]
    tb = math.log(tot[2] / tot[0]) / math.log(100)
    lines.append(f"| **all** | {tot[0]:.2f} | {tot[1]:.2f} | {tot[2]:.2f} "
                 f"| {tb:.2f} |")
    lines.append("")
    lines.append("## Per-query")
    lines.append("")
    lines.append("| query | family | sf0.01 | sf0.1 | sf1 | slope | note |")
    lines.append("|---|---|---|---|---|---|---|")
    for n, fam, ts, slope in rows:
        note = "floor" if ts[2] < 0.5 else ""
        s = f"{slope:.2f}" if slope is not None else "—"
        lines.append(f"| {n} | {fam} | {ts[0]:.3f} | {ts[1]:.3f} "
                     f"| {ts[2]:.3f} | {s} | {note} |")
    lines.append("")

    with open(out_path, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_path}: {len(rows)} queries, "
          f"{len(fam_agg)} families, overall slope {tb:.2f}")


if __name__ == "__main__":
    main()
