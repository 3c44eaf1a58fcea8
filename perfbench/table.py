#!/usr/bin/env python3
"""Per-layer table of traced runs, as Markdown.

    python3 perfbench/table.py <workload>=<result.json> [<workload>=<result.json> ...]

Each result file holds the JSON result line of one
`perfbench/run.py --trace 1` run. Rows are metrics, columns workloads.
"""
import json
import sys


def main(args):
    cols = [a.split("=", 1) for a in args]
    results = {w: json.loads(open(p).read().strip().splitlines()[-1])["metrics"]
               for w, p in cols}
    names = list(dict.fromkeys(n for m in results.values() for n in m))
    print("| metric | unit | " + " | ".join(w for w, _ in cols) + " |")
    print("|---|---|" + "---:|" * len(cols))
    for n in names:
        unit = next(m[n]["unit"] for m in results.values() if n in m)
        vals = [results[w].get(n, {}).get("value") for w, _ in cols]
        cells = ["" if v is None else f"{v:.4g}" for v in vals]
        print(f"| `{n}` | {unit} | " + " | ".join(cells) + " |")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
