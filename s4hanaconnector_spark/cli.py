"""Command-line surface — the engine's equivalent of the reference's
REST/servlet layer (O31, ``rest/SourceTableService.java:39-74``): list what
the engine can do, run any declared query, profile the plan it ran, and
import a table mapping. A user of the reference drives it over HTTP; a user
of this engine drives the same operations from the shell or Python.

Kept dependency-free (argparse + stdlib) and thin: every command resolves
to the same public API the tests use (`queries.load_all`, `mapping`,
`session.get_spark`), so nothing here has behavior of its own to drift.
"""

from __future__ import annotations

import argparse
import json
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="s4hanaconnector-spark",
        description="PySpark-native analytics engine: declared-query runner",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list-queries", help="list every declared query (name, oracle?, headline?)")

    runp = sub.add_parser("run", help="run a declared query and print JSON lines")
    runp.add_argument("query")
    runp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    runp.add_argument("--limit", type=int, default=20, help="max rows printed (0 = all)")

    planp = sub.add_parser(
        "plan",
        help="run a declared query once and print the final physical plan, "
        "one operator per line with its non-zero metrics",
    )
    planp.add_argument("query")
    planp.add_argument("--sf-dir", default="/root/testdata/sf0.001")

    impp = sub.add_parser(
        "import-table", help="infer a table mapping from parquet and write the JSON file"
    )
    impp.add_argument("table")
    impp.add_argument("--pk", required=True, help="comma-separated primary-key columns")
    impp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    impp.add_argument("--out-dir", required=True)

    schp = sub.add_parser(
        "schema", help="render a mapping JSON file as its registry Avro schema"
    )
    schp.add_argument("mapping", help="path to a mapping JSON file")
    schp.add_argument("--namespace", default=None)

    comp = sub.add_parser(
        "check-compat",
        help="registry compatibility gate between two mapping JSON files "
        "(exit 0 = compatible, 1 = issues printed)",
    )
    comp.add_argument("old_mapping")
    comp.add_argument("new_mapping")
    comp.add_argument(
        "--mode", choices=["backward", "forward", "full"], default="backward"
    )

    cmp_ = sub.add_parser(
        "compact",
        help="Kafka-style log compaction of a RangeCommitSink topic: fold "
        "every COMMITTED range to the newest record per PK (tombstones kept "
        "unless --drop-tombstones) and write one compacted parquet base",
    )
    cmp_.add_argument("sink_dir", help="the RangeCommitSink out_dir")
    cmp_.add_argument("name", help="mapping/topic name inside the sink")
    cmp_.add_argument("--pks", required=True, help="comma-separated PK columns")
    cmp_.add_argument("--dest", required=True, help="output parquet directory")
    cmp_.add_argument("--drop-tombstones", action="store_true")

    snp = sub.add_parser(
        "snapshot",
        help="materialize the consumer-side table state from a sink topic: "
        "committed ranges (optionally cut at --as-of for time travel) "
        "MERGEd onto --base (or onto nothing when the topic carries its "
        "own initial load)",
    )
    snp.add_argument("sink_dir")
    snp.add_argument("name")
    snp.add_argument("--pks", required=True, help="comma-separated PK columns")
    snp.add_argument("--dest", required=True, help="output parquet directory")
    snp.add_argument("--base", default=None, help="parquet dir of the starting snapshot")
    snp.add_argument("--as-of", type=int, default=None, dest="as_of",
                     help="replay only changes with transactionid <= this")

    chk = sub.add_parser(
        "checksum",
        help="order-independent content checksum of a fixture table "
        "(replica-equals-source audit): row count + DECIMAL(38) sum of "
        "48-bit row digests over the given columns",
    )
    chk.add_argument("table")
    chk.add_argument("--cols", required=True, help="comma-separated columns to digest")
    chk.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    return p


def _read_mapping_file(path: str):
    """Load a TableMapping from a direct JSON file path (the CLI takes
    files, not the BusinessObjects directory convention)."""
    from s4hanaconnector_spark.mapping import TableMapping

    with open(path) as f:
        return TableMapping.from_json(json.load(f))


def main(argv: list[str] | None = None, out=None) -> int:
    out = out or sys.stdout
    args = _build_parser().parse_args(argv)

    from s4hanaconnector_spark.queries import load_all

    if args.cmd == "list-queries":
        for name, q in sorted(load_all().items()):
            tags = ("oracle" if q.oracle else "rows-only") + (
                ",headline" if q.headline else ""
            )
            print(f"{name}\t{tags}", file=out)
        return 0

    if args.cmd in ("run", "plan"):
        reg = load_all()
        if args.query not in reg:
            print(f"unknown query: {args.query}", file=out)
            return 2
        from s4hanaconnector_spark.session import get_spark

        spark = get_spark()
        if args.cmd == "plan":
            from s4hanaconnector_spark.profile import profile

            print(profile(lambda: reg[args.query].fn(spark, args.sf_dir)).render(), file=out)
            return 0
        df = reg[args.query].fn(spark, args.sf_dir)
        # display path: bound the collect — an unbounded collect on a 100 TB
        # result is a driver OOM. --limit 0 ("all") still goes through
        # toLocalIterator so rows stream to the driver one partition at a time.
        if args.limit:
            rows = df.limit(args.limit).collect()
        else:
            rows = df.toLocalIterator()
        for r in rows:
            print(json.dumps(r.asDict(), default=str, sort_keys=True), file=out)
        return 0

    if args.cmd == "schema":
        from s4hanaconnector_spark.avro_schema import mapping_to_avro_json

        m = _read_mapping_file(args.mapping)
        print(mapping_to_avro_json(m, namespace=args.namespace), file=out)
        return 0

    if args.cmd == "check-compat":
        from s4hanaconnector_spark.avro_schema import compatibility, mapping_to_avro

        old = mapping_to_avro(_read_mapping_file(args.old_mapping))
        new = mapping_to_avro(_read_mapping_file(args.new_mapping))
        issues = compatibility(old, new, mode=args.mode)
        for issue in issues:
            print(issue, file=out)
        return 1 if issues else 0

    if args.cmd == "compact":
        from s4hanaconnector_spark.operators.cdc import compact_changes
        from s4hanaconnector_spark.poll import RangeCommitSink
        from s4hanaconnector_spark.session import get_spark

        spark = get_spark()
        sink = RangeCommitSink(args.sink_dir)
        keys = sink.committed_keys(args.name)
        if not keys:
            print(f"no committed ranges for {args.name!r} in {args.sink_dir}", file=out)
            return 2
        # pass the listed keys down: one listing, and the printed manifest
        # matches exactly what was compacted even if a concurrent poll
        # commits a new range mid-command
        compacted = compact_changes(
            sink.read_committed(spark, args.name, keys=keys),
            args.pks.split(","),
            drop_tombstones=args.drop_tombstones,
        )
        if args.drop_tombstones:
            # --drop-tombstones asks for a SNAPSHOT base (live rows only);
            # also strip the CDC meta columns so the output is directly
            # usable as `snapshot --base` — which rejects anything still
            # carrying _change_type (tombstone rows would resurrect
            # deleted keys through apply_changes)
            compacted = compacted.drop(
                "_change_type", "_transactionid", "transaction_seq"
            )
        compacted.write.mode("overwrite").parquet(args.dest)
        n = spark.read.parquet(args.dest).count()
        print(
            json.dumps(
                {"ranges": len(keys), "txid_hi": max(keys), "rows": n, "dest": args.dest}
            ),
            file=out,
        )
        return 0

    if args.cmd == "snapshot":
        from s4hanaconnector_spark.poll import RangeCommitSink, materialize_snapshot
        from s4hanaconnector_spark.session import get_spark

        spark = get_spark()
        sink = RangeCommitSink(args.sink_dir)
        keys = sink.committed_keys(args.name)
        if not keys:
            print(f"no committed ranges for {args.name!r} in {args.sink_dir}", file=out)
            return 2
        base = spark.read.parquet(args.base) if args.base else None
        meta_cols = {"_change_type", "_transactionid", "transaction_seq"}
        if base is not None and meta_cols.intersection(base.columns):
            # a compact output built WITHOUT --drop-tombstones is a topic
            # (tombstones + meta columns), not a snapshot: apply_changes
            # would treat its 'D' rows as live and resurrect deleted keys
            # (materialize_snapshot enforces the same invariant; checking
            # here keeps the clean-exit-code CLI contract)
            bad = sorted(meta_cols.intersection(base.columns))
            print(
                f"--base {args.base} carries CDC meta columns {bad} — that "
                "is a changes feed, not a snapshot; rebuild it with "
                "`compact --drop-tombstones` (live rows only, meta "
                "columns stripped)",
                file=out,
            )
            return 2
        # pass the already-listed keys through (same one-listing guarantee
        # as `compact`): a poll committing between the emptiness check and
        # the read cannot desynchronize state from the checked manifest
        state = materialize_snapshot(
            spark, sink, args.name, args.pks.split(","),
            base=base, as_of_txid=args.as_of, keys=keys,
        )
        state.write.mode("overwrite").parquet(args.dest)
        n = spark.read.parquet(args.dest).count()
        print(json.dumps({"rows": n, "as_of": args.as_of, "dest": args.dest}), file=out)
        return 0

    if args.cmd == "checksum":
        from pyspark.sql import functions as F

        from s4hanaconnector_spark.catalog import load_table
        from s4hanaconnector_spark.session import get_spark

        df = load_table(get_spark(), args.sf_dir, args.table)
        cols = args.cols.split(",")
        # NULL sentinel per column: concat_ws SKIPS null parts, so rows
        # differing only in WHICH column is NULL — or NULL vs '' — would
        # digest identically and the replica audit could pass on unequal
        # data (same discipline as poll._ship_quarantine's fingerprint)
        parts = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols
        ]
        h = F.conv(
            F.substring(F.md5(F.concat_ws("\x1f", *parts)), 1, 12),
            16,
            10,
        ).cast("decimal(38,0)")
        row = df.agg(
            F.count(F.lit(1)).alias("n_rows"), F.sum(h).cast("string").alias("checksum")
        ).collect()[0]
        print(
            json.dumps({"n_rows": row["n_rows"], "checksum": row["checksum"]}), file=out
        )
        return 0

    if args.cmd == "import-table":
        from s4hanaconnector_spark.catalog import load_table
        from s4hanaconnector_spark.mapping import TableMapping
        from s4hanaconnector_spark.session import get_spark

        df = load_table(get_spark(), args.sf_dir, args.table)
        m = TableMapping.infer(df, args.table, args.pk.split(","))
        path = m.write(args.out_dir)
        print(path, file=out)
        return 0

    return 2  # pragma: no cover


if __name__ == "__main__":
    raise SystemExit(main())
