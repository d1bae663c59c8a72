"""Command-line entry point — the runnable surface a reference user has
(each reference pipeline ships a ``main.py`` invoked by scheduler HTTP
trigger; here one CLI fronts every registered query plus the composed
corpus pipeline).

Usage:
    python -m snowflake_to_bq_pipeline_spark list
    python -m snowflake_to_bq_pipeline_spark run QUERY
        [--sf-dir DIR] [--out PATH] [--limit N]
    python -m snowflake_to_bq_pipeline_spark corpus --out PATH
        [--sf-dir DIR] [--shards N]

``run`` executes one registry query against the parquet tables in
``--sf-dir`` and either writes parquet to ``--out`` or shows the first
``--limit`` rows. ``corpus`` runs the end-to-end curation pipeline and
prints its per-stage funnel as JSON.
"""

from __future__ import annotations

import argparse
import json
import sys

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="snowflake_to_bq_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    runp = sub.add_parser("run", help="run one registered query")
    runp.add_argument("query")
    runp.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    runp.add_argument("--out", default=None, help="write parquet here")
    runp.add_argument("--limit", type=int, default=20)

    corp = sub.add_parser("corpus", help="run the training-corpus pipeline")
    corp.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    corp.add_argument("--out", required=True)
    corp.add_argument("--shards", type=int, default=8)

    # NOTE: no clear-caches subcommand — the cross-query memos are
    # per-process, so a fresh CLI process has nothing to clear. Embedded
    # long-lived sessions call registry.clear_model_caches() directly
    # (as tools/scale_smoke.py does); every @standing_index memo also
    # self-invalidates via corpus file fingerprints, and model memos are
    # LRU-bounded.

    args = p.parse_args(argv)

    from .registry import ORACLES, QUERIES

    if args.cmd == "list":
        for name in sorted(QUERIES):
            marker = "oracle" if name in ORACLES else "rows-only"
            print(f"{name}\t{marker}")
        return 0

    from .session import get_spark

    spark = get_spark("cli")
    if args.cmd == "run":
        fn = QUERIES.get(args.query)
        if fn is None:
            print(f"unknown query: {args.query}", file=sys.stderr)
            return 2
        df = fn(spark, args.sf_dir)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"query": args.query, "out": args.out,
                              "rows": spark.read.parquet(args.out).count()}))
        else:
            df.show(args.limit, truncate=False)
        return 0

    if args.cmd == "corpus":
        from .pipelines import build_training_corpus

        stats = build_training_corpus(
            spark, args.sf_dir, args.out, n_shards=args.shards
        )
        print(json.dumps(stats))
        return 0
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
