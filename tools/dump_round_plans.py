"""Dump .explain("formatted") for an optimization round's target queries to
plans/<round>/<query>_<tag>.txt (tag = before/after). Explain-only: nothing
executes but the driver-side actions the query builders themselves perform
(seed probes, iteration counts). Build the plans at the smallest scale
factor.

Usage: python tools/dump_round_plans.py <round> <before|after> q1,q2,... <sf_dir>
e.g.   python tools/dump_round_plans.py r11 after acf_lags,domain_cap testdata/sf0.001
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod
from akka_stream_contrib_spark import get_spark


def main():
    rnd, tag, names, sf_dir = sys.argv[1], sys.argv[2], sys.argv[3].split(","), sys.argv[4]
    out = os.path.join(ROOT, "plans", rnd)
    os.makedirs(out, exist_ok=True)
    spark = get_spark(f"dump-{rnd}-plans")
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out, f"{name}_{tag}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {name}_{tag}.txt "
              f"({buf.getvalue().count('Exchange')} Exchange mentions)")
    spark.stop()


if __name__ == "__main__":
    main()
