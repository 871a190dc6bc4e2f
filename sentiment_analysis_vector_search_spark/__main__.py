"""Command-line entry point: run/explain any registered operator.

    python -m sentiment_analysis_vector_search_spark list [prefix]
    python -m sentiment_analysis_vector_search_spark run <query> [--sf-dir D] [--limit N] [--json]
    python -m sentiment_analysis_vector_search_spark explain <query> [--sf-dir D]
    python -m sentiment_analysis_vector_search_spark oracle <query>
    python -m sentiment_analysis_vector_search_spark index <kind> <out-dir> [--sf-dir D]
    python -m sentiment_analysis_vector_search_spark vacuum <table-root> [--keep-last N] [--orphan-grace S]
    python -m sentiment_analysis_vector_search_spark job run <jobs-root> <job-id> [--sf-dir D]
    python -m sentiment_analysis_vector_search_spark job list <jobs-root>
    python -m sentiment_analysis_vector_search_spark analyze-incremental <table> <batch-path> <stats-dir>
    python -m sentiment_analysis_vector_search_spark hotkeys <table> <col> <batch-path> <stats-dir> [--k K]
    python -m sentiment_analysis_vector_search_spark sample <table> <key-col> <val-col> <batch-path> <stats-dir> [--k K] [--quantiles 0.5,0.95]
    python -m sentiment_analysis_vector_search_spark rollup build|answer|add|compact <rollup-dir> [...]
    python -m sentiment_analysis_vector_search_spark warc <warc-path> <out-dir>
    python -m sentiment_analysis_vector_search_spark knn <kind> <index-dir> --vectors-dir D [--query-vec-id N] [--k K]

`run` executes the operator end-to-end and prints rows (tabular, or one
JSON object per line with --json — the shape a shell pipeline wants);
`explain` prints the formatted physical plan (the artifact to audit for
broadcasts/pushdown before running at scale); `oracle` prints the
DuckDB-executable SQL contract; `index` materializes a persisted serving
index (the BASELINE north star's "batch index build"): `ivf` (codebook +
cell-partitioned assignments), `pq` (codebook + compressed codes),
`ivfpq` (composed IVFADC: cell-pruned compressed codes), or
`dedup` (MinHash/LSH signature index for incremental ingest dedup).
"""

from __future__ import annotations

import argparse
import sys


def _fold_id(batch_id: int | None, path: str) -> int | str:
    """Replay guard of an additive CLI fold: ``--batch-id`` when given,
    else the batch file's path digest — re-running a verb on the same
    file is a no-op, and every other file is folded, in any order."""
    from .commit import path_digest

    return path_digest(path) if batch_id is None else batch_id


def _spark(name: str):
    """The CLI's Spark session ``name``, logging errors only."""
    from .session import get_spark

    spark = get_spark(name)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


_FOLD_VERBS = (
    "analyze-incremental", "hotkeys", "sample", "hist", "cmsfreq", "checksum"
)


def _fold_verb(args) -> int:
    """The one CLI fold path: fold the verb's batch file into its
    maintained sketch (``stats.fold_sketch``) and print the verb's
    report. The replay guard is ``_fold_id``'s, so re-running a verb on
    the same file is a no-op. ``checksum`` without ``--manifest-dir``
    prints the one-shot digest instead."""
    import json
    import os

    from . import stats as st

    spark = _spark(f"cli-{args.cmd}")
    qs = [float(q) for q in getattr(args, "quantiles", "").split(",") if q]

    def dump(obj) -> str:
        return json.dumps(obj, indent=1, sort_keys=True)

    if args.cmd == "analyze-incremental":
        kind, params = "analyze", {}

        def report(art):
            # the KMV sketches are fold state, not stats to read
            return dump(
                {c: {k: v for k, v in s.items() if k != "kmv"} for c, s in art.items()}
            )

    elif args.cmd == "hotkeys":
        kind, params = "hotkeys", {"col": args.col, "k": args.k}

        def report(art):
            top = sorted(art["summary"].items(), key=lambda kv: -kv[1])
            return dump({"n_rows": art["n_rows"], "k": args.k, "hot": dict(top)})

    elif args.cmd == "sample":
        kind = "sample"
        params = {"key_col": args.key_col, "val_col": args.val_col, "k": args.k}

        def report(art):
            rows = art["rows"]
            return dump(
                {
                    "n_sample": len(rows),
                    "k": args.k,
                    "quantiles": {str(q): st.sample_quantile(rows, q) for q in qs},
                }
            )

    elif args.cmd == "cmsfreq":
        kind, params = "cms", {"col": args.col}
        keys = [k for k in args.keys.split(",") if k]

        def report(art):
            counters = art["counters"]
            return json.dumps(
                {
                    "n_counters": len(counters),
                    "estimates": {k: st.cms_estimate(counters, k) for k in keys},
                },
                indent=1,
            )

    elif args.cmd == "hist":
        b = st.HIST_BINS if args.bins is None else args.bins
        w, o = args.width, args.offset
        if args.derive and (w is None or o is None):
            stats = st.load_sketch("analyze", args.stats_dir, args.table)
            if stats is None or args.col not in stats:
                print(
                    f"--derive: no persisted stats for {args.table}.{args.col}"
                    f" in {args.stats_dir} (run analyze-incremental first)"
                )
                return 1
            knobs = st.hist_knobs_for(stats, args.col, bins=b)
            w = knobs["width"] if w is None else w
            o = knobs["offset"] if o is None else o
        w = st.HIST_WIDTH if w is None else w
        o = 0.0 if o is None else o
        kind, params = "hist", {"col": args.col, "width": w, "bins": b, "offset": o}
        if args.group_col is not None:
            kind, params = "ghist", {**params, "group_col": args.group_col}

        def report(art):
            counts = art["counts"]
            out = {"n_rows": art["n_rows"], "width": w, "bins": b, "offset": o}
            if args.group_col is None:
                out["n_bins_used"] = len(counts)
                out["quantiles"] = {
                    str(q): st.hist_quantile(counts, w, q, o) for q in qs
                }
            else:
                out["n_groups"] = len(counts)
                out["quantiles"] = {
                    g: {str(q): st.hist_quantile(c, w, q, o) for q in qs}
                    for g, c in sorted(counts.items())
                    if c
                }
            if args.check:
                try:
                    out["support_check"] = st.histogram_support_check(
                        args.stats_dir, args.table, args.col, group_col=args.group_col
                    )
                except KeyError as e:  # str() of a KeyError adds quotes
                    out["support_check"] = {"error": e.args[0]}
            return dump(out)

    else:  # checksum
        kind, params = "checksum", {"round_doubles": args.round_doubles}

        def report(art):
            return json.dumps({k: art[k] for k in ("table_name", "n_rows", "checksum")})

    if args.cmd != "checksum":
        path, out_dir, name = args.batch_path, args.stats_dir, args.table
        batch = spark.read.parquet(path)
    else:
        path, out_dir = args.path, args.manifest_dir
        if args.table:
            from .catalog import table

            batch, name = table(spark, path, args.table), args.table
        else:
            batch = spark.read.parquet(path)
            name = os.path.basename(os.path.abspath(path)) or "table"
        if out_dir is None:
            from .operators.dq import table_checksum

            print(report(table_checksum(batch, name, args.round_doubles).collect()[0]))
            return 0
    art = st.fold_sketch(
        kind,
        out_dir,
        name,
        batch,
        batch_id=_fold_id(getattr(args, "batch_id", None), path),
        **params,
    )
    print(report(art))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="sentiment_analysis_vector_search_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered queries")
    p_list.add_argument("prefix", nargs="?", default="")

    for name in ("run", "explain"):
        sp = sub.add_parser(name)
        sp.add_argument("query")
        sp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
        if name == "run":
            sp.add_argument("--limit", type=int, default=20)
            sp.add_argument("--json", action="store_true")

    p_oracle = sub.add_parser("oracle", help="print the DuckDB oracle SQL")
    p_oracle.add_argument("query")

    p_lint = sub.add_parser(
        "lint",
        help="plan-lint registered queries (CartesianProduct / "
        "row-at-a-time Python) — the audit to run before scaling out",
    )
    p_lint.add_argument("prefix", nargs="?", default="")
    p_lint.add_argument("--sf-dir", default="/root/testdata/sf0.001")

    p_idx = sub.add_parser("index", help="build a persisted serving index")
    p_idx.add_argument("kind", choices=("ivf", "pq", "ivfpq", "dedup"))
    p_idx.add_argument("out_dir")
    p_idx.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    p_ivfr = sub.add_parser(
        "ivf-refresh",
        help="measure IVF codebook drift; re-train + re-assign behind "
        "the crash-recoverable swap when it passes --max-drift",
    )
    p_ivfr.add_argument("index_dir")
    p_ivfr.add_argument("--max-drift", type=float, default=0.02)
    p_ivfr.add_argument("--force", action="store_true")

    for kind in ("pq", "ivfpq"):
        p_r = sub.add_parser(
            f"{kind}-refresh",
            help=f"measure {kind.upper()} codebook drift; re-train + fully "
            "re-encode behind the crash-recoverable swap when it passes "
            "--max-drift (needs the primary vector store: --sf-dir)",
        )
        p_r.add_argument("index_dir")
        p_r.add_argument("--sf-dir", default="/root/testdata/sf0.01")
        p_r.add_argument("--max-drift", type=float, default=0.02)
        p_r.add_argument("--force", action="store_true")

    p_vac = sub.add_parser(
        "vacuum", help="snapshot-table maintenance: expire versions + orphans"
    )
    p_vac.add_argument("table_root")
    p_vac.add_argument("--keep-last", type=int, default=3)
    p_vac.add_argument("--orphan-grace", type=float, default=3600.0)

    p_opt = sub.add_parser(
        "optimize", help="compact + Z-order + rebuild skipping manifest"
    )
    p_opt.add_argument("table_dir")
    p_opt.add_argument("zorder_cols", help="comma-separated column list")
    p_opt.add_argument("--n-files", type=int, default=8)
    p_opt.add_argument("--bits", type=int, default=8)

    p_stats = sub.add_parser(
        "stats", help="ANALYZE a table: print column stats, optionally persist"
    )
    p_stats.add_argument("table")
    p_stats.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_stats.add_argument("--write-dir", help="persist JSON stats here")

    p_job = sub.add_parser("job", help="analysis-job orchestration")
    p_job.add_argument("job_cmd", choices=("run", "list"))
    p_job.add_argument("jobs_root")
    p_job.add_argument("job_id", nargs="?")
    p_job.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    p_inc = sub.add_parser(
        "analyze-incremental",
        help="fold one parquet batch into persisted mergeable table stats",
    )
    p_inc.add_argument("table")
    p_inc.add_argument("batch_path", help="parquet path of the NEW batch only")
    p_inc.add_argument("stats_dir")

    p_hh = sub.add_parser(
        "hotkeys",
        help="fold one parquet batch into the persisted Misra-Gries "
        "hot-key sketch and print the surviving heavy hitters",
    )
    p_hh.add_argument("table")
    p_hh.add_argument("col")
    p_hh.add_argument("batch_path", help="parquet path of the NEW batch only")
    p_hh.add_argument("stats_dir")
    p_hh.add_argument("--k", type=int, default=64)
    p_hh.add_argument(
        "--batch-id",
        type=int,
        default=None,
        help="replay guard for the NON-idempotent MG fold (the `sample` "
        "verb needs none: min-union is idempotent). Default: a stable id "
        "derived from the resolved batch path, so re-running the verb on "
        "the same batch file cannot double-count",
    )

    p_smp = sub.add_parser(
        "sample",
        help="fold one parquet batch into the persisted bottom-k-hash "
        "row sample and print quantile estimates",
    )
    p_smp.add_argument("table")
    p_smp.add_argument("key_col")
    p_smp.add_argument("val_col")
    p_smp.add_argument("batch_path", help="parquet path of the NEW batch only")
    p_smp.add_argument("stats_dir")
    p_smp.add_argument("--k", type=int, default=256)
    p_smp.add_argument(
        "--quantiles", default="0.5,0.95", help="comma-separated q values"
    )

    p_hist = sub.add_parser(
        "hist",
        help="fold one parquet batch into the persisted fixed-width "
        "histogram and print interpolated quantile estimates",
    )
    p_hist.add_argument("table")
    p_hist.add_argument("col")
    p_hist.add_argument("batch_path", help="parquet path of the NEW batch only")
    p_hist.add_argument("stats_dir")
    p_hist.add_argument("--width", type=float, default=None)
    p_hist.add_argument("--bins", type=int, default=None)
    p_hist.add_argument("--offset", type=float, default=None)
    p_hist.add_argument(
        "--derive",
        action="store_true",
        help="derive width/offset from the persisted table stats "
        "({stats_dir}/{table}.json, maintained by analyze-incremental) "
        "instead of the hand defaults; explicit --width/--offset win",
    )
    p_hist.add_argument(
        "--group-col",
        default=None,
        help="maintain the GROUPED artifact at (group, bin) grain and "
        "serve per-group quantiles",
    )
    p_hist.add_argument(
        "--check",
        action="store_true",
        help="after the fold, run the support tripwire against the "
        "persisted table stats (rebuild_recommended when min/max moved "
        "past the fitted support or the derived width changed)",
    )
    p_hist.add_argument(
        "--quantiles", default="0.5,0.9,0.99", help="comma-separated q values"
    )
    p_hist.add_argument(
        "--batch-id",
        type=int,
        default=None,
        help="replay guard for the additive fold; default derives a "
        "stable id from the resolved batch path (the hotkeys rule)",
    )

    p_je = sub.add_parser(
        "joinest",
        help="estimate an equi-join's output rows and the physical "
        "strategy the chooser would pick, from PERSISTED stats only "
        "(no table scan) — the plan-review tool for a join you have "
        "not run yet",
    )
    p_je.add_argument("small_table", help="stats JSON name of the small side")
    p_je.add_argument("big_table", help="stats JSON name of the big side")
    p_je.add_argument("key_col", help="join key column on the small side")
    p_je.add_argument("stats_dir", help="dir of analyze-incremental JSONs")
    p_je.add_argument(
        "--big-key-col",
        default=None,
        help="big side's column when named differently (o_orderkey vs "
        "l_orderkey); default: same as key_col",
    )
    p_je.add_argument(
        "--small-row-bytes", type=int, default=64,
        help="estimated materialized bytes/row of the small side",
    )
    p_je.add_argument(
        "--broadcast-max-bytes", type=int, default=32 << 20
    )

    p_cms = sub.add_parser(
        "cmsfreq",
        help="fold one parquet batch into the persisted Count-Min "
        "frequency sketch and print point estimates",
    )
    p_cms.add_argument("table")
    p_cms.add_argument("col")
    p_cms.add_argument("batch_path", help="parquet path of the NEW batch only")
    p_cms.add_argument("stats_dir")
    p_cms.add_argument("--keys", default="", help="comma list to estimate")
    p_cms.add_argument(
        "--batch-id",
        type=int,
        default=None,
        help="replay guard for the additive CMS fold; default derives a "
        "stable id from the resolved batch path (the hotkeys rule)",
    )

    p_scd = sub.add_parser(
        "scd2",
        help="SCD type-2 dimension: build (one-shot from an events dir) "
        "/ apply (drain a batch-file stream into the dimension)",
    )
    p_scd.add_argument("scd_cmd", choices=("build", "apply"))
    p_scd.add_argument("scd_dir", help="dimension table directory")
    p_scd.add_argument(
        "--events",
        required=True,
        help="build: sf_dir holding events.parquet; apply: the batch-file "
        "source directory (events*.parquet)",
    )
    p_scd.add_argument("--checkpoint", help="apply: stream checkpoint dir")
    p_scd.add_argument("--buckets", type=int, default=8)

    p_chk = sub.add_parser(
        "checksum",
        help="order/partitioning-insensitive table checksum (migration "
        "validation): one-shot over any registered table or parquet "
        "path, or an incremental per-shard manifest fold",
    )
    p_chk.add_argument(
        "path", help="parquet dir/file, or an sf_dir when --table is given"
    )
    p_chk.add_argument(
        "--table", default=None,
        help="registered table name inside the sf_dir at PATH",
    )
    p_chk.add_argument(
        "--round", type=int, default=None, dest="round_doubles",
        help="opt-in lossy quantization for float columns (decimals); "
        "without it float columns are refused",
    )
    p_chk.add_argument(
        "--manifest-dir", default=None,
        help="fold this path as ONE shard into a persisted additive "
        "checksum manifest (fold of all shards == one-shot, replay-safe)",
    )
    p_chk.add_argument(
        "--batch-id", type=int, default=None,
        help="replay guard for the manifest fold; default derives a "
        "stable id from the resolved path (the hotkeys rule)",
    )

    p_roll = sub.add_parser(
        "rollup", help="materialized rollup: build / answer / add / compact"
    )
    p_roll.add_argument("roll_cmd", choices=("build", "answer", "add", "compact"))
    p_roll.add_argument("rollup_dir")
    p_roll.add_argument("--source", help="parquet path (build/add)")
    p_roll.add_argument("--dims", help="comma list (build)")
    p_roll.add_argument(
        "--measures", help="name=col comma list (build), e.g. qty=l_quantity"
    )
    p_roll.add_argument("--group-by", default="", help="comma list (answer)")
    p_roll.add_argument(
        "--wants",
        default="count:*",
        help="agg:name comma list (answer), e.g. sum:qty,avg:qty,count:*",
    )

    p_warc = sub.add_parser(
        "warc", help="ingest WARC/Common-Crawl files as documents parquet"
    )
    p_warc.add_argument("warc_path")
    p_warc.add_argument("out_dir")

    p_search = sub.add_parser(
        "search", help="BM25 keyword search against a persisted text index"
    )
    p_search.add_argument("index_dir")
    p_search.add_argument("words", help="comma-separated query words")
    p_search.add_argument("--k", type=int, default=10)
    p_search.add_argument("--build-from", help="parquet docs dir: build index first")

    p_knn = sub.add_parser(
        "knn", help="vector top-k search against a persisted ANN index"
    )
    p_knn.add_argument("kind", choices=("ivf", "pq", "ivfpq"))
    p_knn.add_argument("index_dir")
    p_knn.add_argument(
        "--vectors-dir",
        help="embeddings parquet dir (primary store; REQUIRED for pq/ivfpq rerank,"
        " and the source of --query-vec-id)",
    )
    p_knn.add_argument(
        "--query-vec-id", type=int, default=0,
        help="use this corpus vector as the query (self-match excluded)",
    )
    p_knn.add_argument("--k", type=int, default=10)

    p_pipe = sub.add_parser(
        "pipeline",
        help="run/resume the training-data pipeline (gate->dedup->decontam->mix->pack/shards)",
    )
    p_pipe.add_argument("out_root")
    p_pipe.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    p_sqlite = sub.add_parser(
        "sqlite", help="ingest a reference SQLite comments store as documents parquet"
    )
    p_sqlite.add_argument("db_path")
    p_sqlite.add_argument("out_dir")
    p_sqlite.add_argument(
        "--table", default="comment_blocks", help="comment_blocks | extracted_text_data"
    )
    p_sqlite.add_argument("--min-score", type=float, default=0.3)
    p_sqlite.add_argument("--min-length", type=int, default=30)
    p_sqlite.add_argument(
        "--parallel",
        type=int,
        default=0,
        metavar="N_RANGES",
        help="read executor-side over N rowid ranges (comment_blocks "
        "only); 0 = serial driver-side cursor",
    )

    p_bloom = sub.add_parser(
        "bloom", help="per-file Bloom skipping index: build / add / lookup / stats"
    )
    p_bloom.add_argument("bloom_cmd", choices=("build", "add", "lookup", "stats"))
    p_bloom.add_argument("index_dir")
    p_bloom.add_argument("--table-dir", help="parquet dir (build/add/lookup)")
    p_bloom.add_argument("--key-col", help="key column (build)")
    p_bloom.add_argument("--bits-per-key", type=int, default=16)
    p_bloom.add_argument("--values", help="comma list of lookup keys")

    args = p.parse_args(argv)

    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry

    queries = entry.queries()

    if args.cmd == "index":
        spark = _spark("cli-index")
        if args.kind == "dedup":
            from .catalog import table
            from .operators.dedup_index import build_dedup_index

            build_dedup_index(
                spark, table(spark, args.sf_dir, "documents"), args.out_dir
            )
        else:
            from .operators.similarity import index_verb

            index_verb(args.kind, "build")(spark, args.sf_dir, args.out_dir)
        print(f"built {args.kind} index at {args.out_dir}")
        return 0

    if args.cmd.endswith("-refresh"):
        import json

        from .operators.similarity import INDEX_LAYOUT, _vectors, index_verb

        kind = args.cmd[: -len("-refresh")]
        spark = _spark(f"cli-{args.cmd}")
        store = ()
        if INDEX_LAYOUT[kind].primary_store:
            store = (_vectors(spark, args.sf_dir).select("vec_id", "v"),)
        out = index_verb(kind, "refresh")(
            spark, args.index_dir, *store, max_drift=args.max_drift, force=args.force
        )
        print(json.dumps(out, sort_keys=True))
        return 0

    if args.cmd == "vacuum":
        import json

        from .sinks import expire_snapshots, snapshot_versions, vacuum_orphans

        deleted = expire_snapshots(args.table_root, keep_last=args.keep_last)
        deleted += vacuum_orphans(args.table_root, grace_seconds=args.orphan_grace)
        print(
            json.dumps(
                {
                    "deleted": deleted,
                    "versions_kept": snapshot_versions(args.table_root),
                }
            )
        )
        return 0

    if args.cmd == "optimize":
        import json

        from .sinks import optimize_table

        spark = _spark("cli-optimize")
        manifest = optimize_table(
            spark,
            args.table_dir,
            [c for c in args.zorder_cols.split(",") if c],
            n_files=args.n_files,
            bits=args.bits,
        )
        print(json.dumps({"files": len(manifest["files"])}))
        return 0

    if args.cmd == "stats":
        import json

        from .stats import table_stats, write_table_stats

        spark = _spark("cli-stats")
        if args.write_dir:
            path = write_table_stats(spark, args.sf_dir, args.table, args.write_dir)
            print(json.dumps({"written": path}))
        else:
            print(json.dumps(table_stats(spark, args.sf_dir, args.table), indent=1))
        return 0

    if args.cmd in _FOLD_VERBS:
        return _fold_verb(args)

    if args.cmd == "joinest":
        import json

        from .stats import choose_join_strategy, estimate_join_rows, load_sketch

        st_small = load_sketch("analyze", args.stats_dir, args.small_table)
        st_big = load_sketch("analyze", args.stats_dir, args.big_table)
        if st_small is None or st_big is None:
            missing = [
                n
                for n, st in (
                    (args.small_table, st_small),
                    (args.big_table, st_big),
                )
                if st is None
            ]
            print(f"no persisted stats for: {missing}", file=sys.stderr)
            return 2
        big_col = args.big_key_col or args.key_col
        if args.key_col not in st_small or big_col not in st_big:
            print(
                f"column absent from stats: {args.key_col!r} / {big_col!r}",
                file=sys.stderr,
            )
            return 2
        est = estimate_join_rows(st_small, st_big, args.key_col, big_col)
        # chooser wants one key name present in both dicts — alias the
        # two sides' columns under a synthetic shared key
        k = "__joinest_key__"
        strategy = choose_join_strategy(
            {k: st_small[args.key_col]},
            {k: st_big[big_col]},
            k,
            args.small_row_bytes,
            args.broadcast_max_bytes,
        )
        print(
            json.dumps(
                {
                    "estimated_join_rows": int(round(est)),
                    "strategy": strategy,
                    "small_rows": st_small[args.key_col]["n_rows"],
                    "big_rows": st_big[big_col]["n_rows"],
                }
            )
        )
        return 0

    if args.cmd == "scd2":
        import json

        spark = _spark("cli-scd2")
        if args.scd_cmd == "build":
            from pyspark.sql import functions as F

            from .catalog import table as _table
            from .operators.scd import scd2_from_events

            dim = scd2_from_events(_table(spark, args.events, "events"))
            dim = dim.withColumn(
                "bucket",
                F.pmod(F.col("user_id"), F.lit(args.buckets)).cast("int"),
            )
            (
                dim.repartition(F.col("bucket"))
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(args.scd_dir)
            )
            from .streaming.file_sink import check_scd_meta

            check_scd_meta(args.scd_dir, args.buckets)
        else:
            if not args.checkpoint:
                p.error("scd2 apply requires --checkpoint")
            from .streaming.file_sink import stream_scd2_maintenance

            stream_scd2_maintenance(
                spark, args.events, args.scd_dir, args.checkpoint,
                n_buckets=args.buckets,
            )
        dim = spark.read.parquet(args.scd_dir)
        from pyspark.sql import functions as F

        row = dim.agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("user_id").alias("users"),
            F.sum("is_current").alias("open_rows"),
        ).collect()[0]
        print(
            json.dumps(
                {
                    "rows": row["rows"],
                    "users": row["users"],
                    "open_rows": int(row["open_rows"]),
                }
            )
        )
        return 0

    if args.cmd == "rollup":
        import json

        from .plans.matviews import (
            build_rollup,
            rollup_add,
            rollup_answer,
            rollup_compact,
        )

        spark = _spark("cli-rollup")
        if args.roll_cmd in ("build", "add") and not args.source:
            print("rollup build/add requires --source", file=sys.stderr)
            return 2
        if args.roll_cmd == "build":
            measures = dict(
                kv.split("=", 1) for kv in (args.measures or "").split(",") if kv
            )
            build_rollup(
                spark,
                spark.read.parquet(args.source),
                [c for c in (args.dims or "").split(",") if c],
                measures,
                args.rollup_dir,
            )
            print(json.dumps({"built": args.rollup_dir}))
        elif args.roll_cmd == "add":
            rollup_add(spark, args.rollup_dir, spark.read.parquet(args.source))
            print(json.dumps({"added": args.source}))
        elif args.roll_cmd == "compact":
            n = rollup_compact(spark, args.rollup_dir)
            print(json.dumps({"compacted": args.rollup_dir, "state_rows": n}))
        else:
            wants = [
                tuple(w.split(":", 1))
                for w in args.wants.split(",")
                if ":" in w
            ]
            df = rollup_answer(
                spark,
                args.rollup_dir,
                [c for c in args.group_by.split(",") if c],
                wants,
            )
            for row in df.toJSON().collect():
                print(row)
        return 0

    if args.cmd == "warc":
        import json

        from .sources.warc import warc_documents

        spark = _spark("cli-warc")
        docs = warc_documents(spark, args.warc_path)
        docs.write.mode("overwrite").parquet(args.out_dir)
        n = spark.read.parquet(args.out_dir).count()
        print(json.dumps({"documents": n, "out": args.out_dir}))
        return 0

    if args.cmd == "sqlite":
        import json

        from .sources.sqlite_store import (
            read_sqlite_comments,
            read_sqlite_extracted_text,
        )

        spark = _spark("cli-sqlite")
        if args.table == "extracted_text_data":
            docs = read_sqlite_extracted_text(
                spark, args.db_path, min_length=args.min_length
            )
        elif args.parallel > 0:
            from .sources.sqlite_store import read_sqlite_comments_parallel

            docs = read_sqlite_comments_parallel(
                spark,
                args.db_path,
                table=args.table,
                min_score=args.min_score,
                min_length=args.min_length,
                n_ranges=args.parallel,
            )
        else:
            docs = read_sqlite_comments(
                spark,
                args.db_path,
                table=args.table,
                min_score=args.min_score,
                min_length=args.min_length,
            )
        docs.write.mode("overwrite").parquet(args.out_dir)
        n = spark.read.parquet(args.out_dir).count()
        print(json.dumps({"documents": n, "out": args.out_dir}))
        return 0

    if args.cmd == "search":
        import json

        from .operators.text_index import build_text_index, text_index_query

        spark = _spark("cli-search")
        if args.build_from:
            build_text_index(spark, spark.read.parquet(args.build_from), args.index_dir)
        words = tuple(w for w in args.words.split(",") if w)
        rows = text_index_query(spark, args.index_dir, words=words, k=args.k).collect()
        print(json.dumps([{"doc_id": r.doc_id, "score": r.score, "rk": r.rk} for r in rows]))
        return 0

    if args.cmd == "knn":
        import json

        from pyspark.sql import functions as F

        spark = _spark("cli-knn")
        if not args.vectors_dir:
            p.error("knn requires --vectors-dir (the primary embeddings store)")
        vecs = spark.read.parquet(args.vectors_dir).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        q = vecs.where(F.col("vec_id") == args.query_vec_id).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
        from .operators.similarity import INDEX_LAYOUT, index_verb

        # the codes-only kinds rerank from the primary store; their query
        # ids live in the corpus id space here, so self-matches are dropped
        # (the IVF query always drops them)
        store, kw = (), {}
        if INDEX_LAYOUT[args.kind].primary_store:
            store, kw = (vecs,), {"exclude_self": True}
        res = index_verb(args.kind, "query")(
            spark, args.index_dir, q, *store, k=args.k, **kw
        )
        rows = res.orderBy("rk").collect()
        print(
            json.dumps(
                [{"vec_id": r.vec_id, "cosine": r.cosine, "rk": r.rk} for r in rows]
            )
        )
        return 0

    if args.cmd == "pipeline":
        import json

        from .training_pipeline import run_training_pipeline

        spark = _spark("cli-pipeline")
        man = run_training_pipeline(spark, args.sf_dir, args.out_root)
        print(json.dumps(man, indent=1, sort_keys=True))
        return 0

    if args.cmd == "bloom":
        import json

        from .bloom import (
            bloom_index_add,
            bloom_index_stats,
            bloom_lookup,
            build_bloom_index,
        )

        spark = _spark("cli-bloom")
        if args.bloom_cmd == "build":
            build_bloom_index(
                spark,
                args.table_dir,
                args.key_col,
                args.index_dir,
                bits_per_key=args.bits_per_key,
            )
            print(json.dumps({"built": args.index_dir}))
        elif args.bloom_cmd == "add":
            n = bloom_index_add(spark, args.table_dir, args.index_dir)
            print(json.dumps({"new_files": n}))
        elif args.bloom_cmd == "lookup":
            vals = [int(v) if v.lstrip("-").isdigit() else v
                    for v in args.values.split(",")]
            rows, opened = bloom_lookup(spark, args.table_dir, args.index_dir, vals)
            print(json.dumps({"rows": rows.count(), "files_opened": len(opened)}))
        else:
            bloom_index_stats(spark, args.index_dir).show(50, truncate=False)
        return 0

    if args.cmd == "job":
        import json

        from .jobs import list_jobs, run_analysis_job

        if args.job_cmd == "list":
            print(json.dumps(list_jobs(args.jobs_root)))
            return 0
        if not args.job_id:
            print("job run requires a job_id", file=sys.stderr)
            return 2

        spark = _spark("cli-job")
        manifest = run_analysis_job(spark, args.sf_dir, args.jobs_root, args.job_id)
        print(json.dumps(manifest))
        return 0

    if args.cmd == "list":
        for name in queries:
            if name.startswith(args.prefix):
                print(name)
        return 0

    if args.cmd == "lint":
        import json

        from .plans import lint_plan
        from .registry import QUERIES, load_all_modules

        load_all_modules()
        spark = _spark("cli-lint")
        bad: dict[str, list[str]] = {}
        names = [n for n in QUERIES if n.startswith(args.prefix)]
        for name in names:
            try:
                v = lint_plan(QUERIES[name](spark, args.sf_dir))
            except Exception as e:  # noqa: BLE001 — surface, don't abort
                v = [f"plan-build-error: {e}"]
            if v:
                bad[name] = v
        print(
            json.dumps(
                {"checked": len(names), "clean": len(names) - len(bad), "bad": bad}
            )
        )
        return 1 if bad else 0

    if args.query not in queries:
        close = [n for n in queries if args.query in n]
        hint = f" (did you mean: {', '.join(close[:5])}?)" if close else ""
        print(f"unknown query {args.query!r}{hint}", file=sys.stderr)
        return 2

    if args.cmd == "oracle":
        oracles = entry.oracle_sql()
        if args.query not in oracles:
            print(f"{args.query} has no SQL oracle (rows-only)", file=sys.stderr)
            return 1
        print(oracles[args.query].strip())
        return 0

    spark = _spark("cli")
    df = queries[args.query](spark, args.sf_dir)

    if args.cmd == "explain":
        from .plans import plan_str

        print(plan_str(df, mode="formatted"))
        return 0

    if args.json:
        for row in df.limit(args.limit).toJSON().collect():
            print(row)
    else:
        df.show(args.limit, truncate=40)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
