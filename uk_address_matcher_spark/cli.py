"""spark-submit entry point.

Examples:
  spark-submit --py-files uam_spark.zip -m uk_address_matcher_spark.cli \
      link --canonical s3://.../canonical_docs --messy s3://.../messy_docs \
      --output s3://.../predictions --checkpoint s3://.../ckpt --salt 8

  python -m uk_address_matcher_spark.cli demo          # synthetic end-to-end

The package is pure Python: zip the `uk_address_matcher_spark` directory
for --py-files (`python -m uk_address_matcher_spark.cli package` prints a
ready zip path).
"""

from __future__ import annotations

import argparse
import json


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--checkpoint", default=None, help="checkpoint base path (resume-able)")
    p.add_argument("--resume", action="store_true")


def cmd_link(args) -> None:
    from uk_address_matcher_spark.checkpoint import CheckpointManager
    from uk_address_matcher_spark.clustering import cluster_predictions
    from uk_address_matcher_spark.extract import extract_addresses
    from uk_address_matcher_spark.linkage import build_side_tables, link_addresses
    from uk_address_matcher_spark.session import get_spark

    spark = get_spark(master=args.master, shuffle_partitions=args.shuffle_partitions)
    canon_docs = spark.read.parquet(args.canonical)
    messy_docs = spark.read.parquet(args.messy)
    canon = extract_addresses(canon_docs)
    messy = extract_addresses(messy_docs)
    ck = (
        CheckpointManager(spark, args.checkpoint, resume=args.resume)
        if args.checkpoint
        else None
    )
    tf = spark.read.parquet(args.tf_table) if args.tf_table else None
    side = build_side_tables(spark, canon, rel_tok_freq=tf)
    pred = link_addresses(
        canon, messy, side, salt=args.salt, checkpointer=ck,
        threshold_match_weight=args.threshold,
    )
    pred.write.mode("overwrite").parquet(args.output + "/predictions")
    if args.cluster:
        clusters = cluster_predictions(
            spark.read.parquet(args.output + "/predictions"),
            threshold_match_weight=args.cluster_threshold,
            checkpointer=ck,
        )
        clusters.write.mode("overwrite").parquet(args.output + "/clusters")
    print(json.dumps({"status": "ok", "output": args.output}))


def cmd_demo(args) -> None:
    from uk_address_matcher_spark.clustering import cluster_predictions
    from uk_address_matcher_spark.corpus import (
        domain_token_frequencies,
        grid_documents,
    )
    from uk_address_matcher_spark.evaluate import pairwise_f1
    from uk_address_matcher_spark.extract import extract_addresses
    from uk_address_matcher_spark.linkage import build_side_tables, link_addresses
    from uk_address_matcher_spark.session import get_spark

    spark = get_spark(master=args.master, shuffle_partitions=args.shuffle_partitions)
    canon_docs, messy_docs, labels = grid_documents(spark, args.n)
    canon = extract_addresses(canon_docs).cache()
    messy = extract_addresses(messy_docs).cache()
    side = build_side_tables(spark, canon, rel_tok_freq=domain_token_frequencies(spark))
    pred = link_addresses(canon, messy, side).cache()
    clusters = cluster_predictions(pred, 5.0)
    print(
        json.dumps(
            {
                "f1": pairwise_f1(labels, pred),
                "n_clusters": clusters.select("cluster_id").distinct().count(),
            }
        )
    )


def cmd_ingest(args) -> None:
    """CSV/JSON landing-zone ingestion -> flat parquet address table."""
    from uk_address_matcher_spark.session import get_spark
    from uk_address_matcher_spark.sources import (
        read_addresses_csv,
        read_addresses_json,
        write_addresses_parquet,
    )

    spark = get_spark(master=args.master, shuffle_partitions=args.shuffle_partitions)
    if args.format == "csv":
        df = read_addresses_csv(spark, args.input)
    else:
        df = read_addresses_json(spark, args.input, file_identifier=args.identifier)
    write_addresses_parquet(df, args.output)
    print(json.dumps({"status": "ok", "rows": spark.read.parquet(args.output).count()}))


def cmd_package(args) -> None:
    import os
    import zipfile

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(here, "uam_spark.zip")
    with zipfile.ZipFile(out, "w") as z:
        pkg = os.path.join(here, "uk_address_matcher_spark")
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, here))
    print(out)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(prog="uk_address_matcher_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    link = sub.add_parser("link", help="full two-pass linkage over document tables")
    link.add_argument("--canonical", required=True)
    link.add_argument("--messy", required=True)
    link.add_argument("--output", required=True)
    link.add_argument("--tf-table", default=None, help="precomputed (token, rel_freq) parquet")
    link.add_argument("--salt", type=int, default=1)
    link.add_argument("--threshold", type=float, default=-50.0)
    link.add_argument("--cluster", action="store_true")
    link.add_argument("--cluster-threshold", type=float, default=5.0)
    _add_common(link)
    link.set_defaults(fn=cmd_link)

    demo = sub.add_parser("demo", help="synthetic end-to-end run")
    demo.add_argument("--n", type=int, default=5000)
    _add_common(demo)
    demo.set_defaults(fn=cmd_demo)

    ing = sub.add_parser("ingest", help="CSV/JSON address ingestion -> parquet")
    ing.add_argument("--input", required=True)
    ing.add_argument("--output", required=True)
    ing.add_argument("--format", choices=["csv", "json"], default="csv")
    ing.add_argument("--identifier", default="src", help="unique_id prefix (json)")
    _add_common(ing)
    ing.set_defaults(fn=cmd_ingest)

    pkg = sub.add_parser("package", help="build the --py-files zip")
    pkg.set_defaults(fn=cmd_package)

    args = ap.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
