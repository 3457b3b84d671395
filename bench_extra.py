"""Extra measurement harness for the optimization round (bench.py is FROZEN).

Times a chosen subset of ``__spark_entry__.queries()`` rows at any sf dir,
with bench.py's methodology (``.count()``, best-of-N) or the noop sink
(guide §1.4: computes every column, no sink cost, full plan in the UI), and
can dump ``.explain('formatted')`` per query for the plans/ record.

Usage:
    python bench_extra.py --sf /root/testdata/sf1.0 --queries ann_cosine,near_dup
    python bench_extra.py --sf /root/testdata/sf1.0 --queries ann_cosine --noop
    python bench_extra.py --sf /root/testdata/sf0.1 --queries simhash_pairs \
        --explain-dir plans/r08 --suffix _before
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    from polycheck_spark.session import default_cpus, get_spark
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.1"))
    ap.add_argument("--queries", required=True,
                    help="comma-separated queries() names")
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--noop", action="store_true",
                    help="time a noop-sink write instead of .count()")
    ap.add_argument("--explain-dir", default=None,
                    help="dump explain('formatted') per query into this dir")
    ap.add_argument("--suffix", default="",
                    help="filename suffix for --explain-dir dumps")
    ap.add_argument("--cpus", type=int, default=default_cpus())
    args = ap.parse_args()

    spark = get_spark("bench_extra", master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E
    qs = E.queries()
    names = [n for n in args.queries.split(",") if n]
    out: dict[str, float] = {}
    for name in names:
        fn = qs[name]
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            import contextlib
            import io
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                fn(spark, args.sf).explain("formatted")
            path = os.path.join(args.explain_dir, f"{name}{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {path}", file=sys.stderr)
        best = None
        for _ in range(args.repeat):
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.time()
            df = fn(spark, args.sf)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            spark.sparkContext.setJobDescription(None)
        out[name] = round(best, 3)
        print(f"{name}: {out[name]}", file=sys.stderr)
    print(json.dumps({"sf_dir": args.sf, "noop": args.noop,
                      "repeat": args.repeat, "queries": out,
                      "total": round(sum(out.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
