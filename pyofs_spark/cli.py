"""spark-submit entry point (north_rule: launched via spark-submit
--py-files on multi-executor clusters).

Usage:
  spark-submit --py-files dist/pyofs_spark.zip -m pyofs_spark.cli ...
or
  spark-submit --py-files dist/pyofs_spark.zip cli_main.py \\
      tile-assign --n-pages 1000000 --out /tmp/tiles

Subcommands:
  tile-assign  — the flagship pipeline over synthetic pages (or a parquet
                 pages table via --input), written partitioned with lineage
  resume       — re-invoke tile-assign; lineage makes it a no-op for
                 completed partitions
  daily        — the daily raster ETL job (SURVEY §3.1): per-(variable,
                 day) lineage partitions, real GeoTIFF/NetCDF sinks,
                 resumable exactly like the reference's cron run
"""

from __future__ import annotations

import argparse


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="pyofs-spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    t = sub.add_parser("tile-assign", help="run the tile-assignment pipeline")
    t.add_argument("--n-pages", type=int, default=1_000_000)
    t.add_argument("--input", default=None, help="parquet pages table (else synthetic)")
    t.add_argument("--out", required=True)
    t.add_argument("--k", type=int, default=3)
    t.add_argument("--buckets", type=int, default=16, help="lineage partitions")
    t.add_argument("--master", default=None)
    # `resume` = re-invoke tile-assign with the same args; per-partition
    # lineage makes completed buckets a no-op (SURVEY T1 semantics).
    r = sub.add_parser("resume", help="resume a tile-assignment run (lineage skip)")
    for a in t._actions:
        if a.dest != "help":
            r._add_action(a)
    d = sub.add_parser("daily", help="run the daily raster ETL job")
    d.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    d.add_argument("--out", required=True)
    d.add_argument("--variables", default="sst,ssh")
    d.add_argument("--days", default="2024-01-02,2024-01-03")
    d.add_argument("--master", default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    from pyspark.sql import functions as F

    from .lineage import Manifest, input_fingerprint, run_partitioned
    from .plans.pipeline import tile_assignment
    from .session import get_session
    from .synth import synth_pages

    parser = build_parser()
    args = parser.parse_args(argv)
    if args.cmd != "daily":
        # a commit only adds or replaces entries: buckets committed by a
        # run with more --buckets would stay visible beside this run's
        stale = [k for k in Manifest(args.out).current()["partitions"]
                 if k.startswith("bucket_") and int(k.split("_")[1]) >= args.buckets]
        if stale:
            parser.error(
                f"--out {args.out} has {', '.join(sorted(stale))} committed, beyond "
                f"--buckets {args.buckets}; a run cannot remove them, so write to a "
                "fresh --out"
            )
    spark = get_session(app_name="pyofs-cli", master=args.master)

    if args.cmd == "daily":
        from .jobs.daily import run_daily_job

        summary = run_daily_job(
            spark,
            args.sf_dir,
            args.out,
            tuple(args.variables.split(",")),
            tuple(args.days.split(",")),
        )
        print(
            f"daily complete: ran={len(summary['ran'])} "
            f"skipped={len(summary['skipped'])} index={summary['index_json']}"
        )
        return 0

    def load_pages(s):
        if args.input:
            return s.read.parquet(args.input)
        return synth_pages(s, args.n_pages, 128)

    def build_bucket(s, key: str):
        b = int(key.split("_")[1])
        # a NULL page_id has no pmod; bucket 0 holds those pages
        bucket = F.coalesce(F.pmod("page_id", F.lit(args.buckets)), F.lit(0))
        return tile_assignment(s, load_pages(s).filter(bucket == b), k=args.k)

    # the pages (the --input files, or the synthetic count), k and the
    # bucketing (its rule named by the tag) shape every bucket's output
    inputs = input_fingerprint(
        [args.input] if args.input else [],
        [None if args.input else args.n_pages, args.k, args.buckets, "null-key-bucket-0"],
    )
    keys = [f"bucket_{i}" for i in range(args.buckets)]
    summary = run_partitioned(spark, args.out, keys, build_bucket, lambda key: inputs)
    print(
        f"tile-assign complete: ran={len(summary['ran'])} "
        f"skipped={len(summary['skipped'])} out={args.out}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
