"""CLI: serve / build / inspect / materialize over a project directory.

Reference surface (`jerry <cmd>`, cli/app.py:122 + cli/command_router.py):
- serve        build dataset + write fold outputs (run-scoped layout)
- build        construct/refresh artifacts (fingerprint-skipped; --force)
- inspect      show compiled streams, dataset columns, artifact freshness
- materialize  persist one stream to jsonl/parquet

Usage: python -m datapipeline_spark.cli <cmd> <project_dir> [options]
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from datapipeline_spark.session import get_spark

    return get_spark(
        app_name=f"datapipeline-{args.command}",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )


def cmd_serve(args) -> int:
    from datapipeline_spark.api import serve

    written = serve(_spark(args), args.project, profile=args.profile, run_id=args.run_id)
    for (fold, role), path in sorted(written.items()):
        print(f"{fold}.{role}\t{path}")
    return 0


def cmd_run(args) -> int:
    from datapipeline_spark.plans.profiles import run_profiles

    results = run_profiles(_spark(args), args.project, args.cmd, run_id=args.run_id)
    if not results:
        print(f"no enabled {args.cmd} profiles", file=sys.stderr)
        return 1
    for r in results:
        print(f"{r.profile}\t{r.action}\t{r.detail}")
    return 0


def cmd_build(args) -> int:
    from datapipeline_spark.plans import compile_project, load_project
    from datapipeline_spark.plans.artifacts import build_artifacts

    compiled = compile_project(_spark(args), load_project(args.project))
    results = build_artifacts(compiled, force=args.force)
    for key, res in sorted(results.items()):
        state = "fresh (skipped)" if res.skipped else "built"
        print(f"{key}\t{state}\t{res.fingerprint[:12]}\t{res.path}")
    return 0


def cmd_inspect(args) -> int:
    from datapipeline_spark.plans import compile_project, load_project
    from datapipeline_spark.plans.profiles import stream_info

    defn = load_project(args.project)
    compiled = compile_project(_spark(args), defn)
    info: dict = {
        "project": defn.project.name,
        "streams": stream_info(compiled),
        "sources": sorted(defn.sources),
    }
    if defn.dataset:
        info["dataset"] = {
            "cadence": defn.dataset.sample.cadence,
            "keys": defn.dataset.sample.keys,
            "features": [f.id for f in defn.dataset.features],
            "targets": [t.id for t in defn.dataset.targets],
            "split": defn.dataset.split.mode if defn.dataset.split else None,
        }
    print(json.dumps(info, indent=2))
    if args.show:
        compiled.stream(args.show).show(args.limit, truncate=False)
    return 0


def cmd_materialize(args) -> int:
    from datapipeline_spark.io.writers import materialize
    from datapipeline_spark.plans import compile_project, load_project

    compiled = compile_project(_spark(args), load_project(args.project))
    df = compiled.stream(args.stream)
    if args.limit:
        df = df.limit(args.limit)
    materialize(df, args.out, format=args.format, gzip=args.gzip)
    print(args.out)
    return 0


def cmd_list(args) -> int:
    from datapipeline_spark.plans.scaffold import list_entities

    for name in list_entities(args.kind, project_dir=args.project):
        print(name)
    return 0


def cmd_create(args) -> int:
    from datapipeline_spark.plans import scaffold

    fn = {"source": scaffold.create_source, "stream": scaffold.create_stream}[args.command]
    print(fn(args.project, args.name))
    return 0


def cmd_demo(args) -> int:
    from datapipeline_spark.plans.scaffold import demo_init

    root = demo_init(args.dir)
    print(f"{root}\nrun: python -m datapipeline_spark.cli serve {root}")
    return 0


def cmd_plugin(args) -> int:
    from datapipeline_spark.plans.scaffold import plugin_init

    print(plugin_init(args.dir, args.name))
    return 0


def cmd_version(args) -> int:
    from datapipeline_spark.plans.scaffold import version_report

    print(version_report())
    return 0


def cmd_env(args) -> int:
    from datapipeline_spark.plans.scaffold import env_report

    print(env_report())
    return 0


def cmd_sql(args) -> int:
    from datapipeline_spark.api import sql

    df = sql(
        _spark(args),
        args.query,
        project_dir=args.project,
        tables_dir=args.tables_dir,
    )
    n = args.limit
    rows = df.limit(n + 1).collect() if n else df.collect()
    cols = df.columns
    print("\t".join(cols))
    for r in rows[: n or len(rows)]:
        print("\t".join("" if r[c] is None else str(r[c]) for c in cols))
    if n and len(rows) > n:
        print(f"... (truncated at {n} rows; pass --limit 0 for all)", file=sys.stderr)
    return 0


def cmd_checksum(args) -> int:
    """Order-independent bucketed content checksum of a parquet table —
    compare two replicas by comparing two tiny outputs (operators/checksum.py).
    Doubles must be pre-canonicalized; non-float columns are digested as-is."""
    from datapipeline_spark.operators.checksum import table_checksum
    from datapipeline_spark.sources.readers import read_parquet_glob

    spark = _spark(args)
    df = read_parquet_glob(spark, args.path)
    cols = args.cols.split(",") if args.cols else df.columns
    floats = [c for c, t in df.dtypes if c in cols and t in ("double", "float")]
    if floats:
        print(
            f"error: float columns {floats} are not engine-portable as strings; "
            "pass --cols without them or pre-scale to integer units",
            file=sys.stderr,
        )
        return 2
    out = table_checksum(df, cols, n_buckets=args.buckets).orderBy("bucket").collect()
    print("bucket\tn_rows\thash_sum\thash_xor")
    for r in out:
        print(f"{r.bucket}\t{r.n_rows}\t{r.hash_sum}\t{r.hash_xor}")
    return 0


def cmd_stats(args) -> int:
    """Run one of the hypothesis tests / association measures on a parquet
    table from the shell (operators/stats.py). Exact-integer discipline:
    tests that require integer inputs (ks, benford, pearson, ols) reject
    float columns — pre-scale to integer units (cents) first, exactly like
    the checksum contract."""
    from datapipeline_spark.operators import stats as S
    from datapipeline_spark.sources.readers import read_parquet_glob

    spark = _spark(args)
    df = read_parquet_glob(spark, args.path)
    groups = args.by.split(",") if args.by else []
    int_types = ("int", "bigint", "smallint", "tinyint", "long")
    dtypes = dict(df.dtypes)

    def _need_int(*cols: str) -> bool:
        bad = [c for c in cols if dtypes.get(c) not in int_types]
        if bad:
            print(
                f"error: {args.test} requires exact-integer columns; "
                f"{bad} are not — pre-scale to integer units (cents)",
                file=sys.stderr,
            )
            return False
        return True

    if args.test == "ks":
        if not _need_int(args.value):
            return 2
        out = S.ks_test(df, args.value, args.side)
    elif args.test == "mw":
        out = S.mann_whitney(df, args.value, args.side, groups)
    elif args.test == "welch":
        if not _need_int(args.value):
            return 2
        out = S.welch_ttest(df, args.value, args.side, groups)
    elif args.test == "ztest":
        out = S.proportion_ztest(df, args.side, args.value, groups)
    elif args.test == "chi2":
        out = S.chi_square(df, args.x, args.y)
    elif args.test == "pearson":
        if not _need_int(args.x, args.y):
            return 2
        out = S.pearson_corr(df, args.x, args.y, groups)
    elif args.test == "spearman":
        out = S.spearman_corr(df, args.x, args.y, groups)
    elif args.test == "benford":
        if not _need_int(args.value):
            return 2
        out = S.benford(df, args.value)
    elif args.test == "did":
        # difference-in-differences: -x treat flag, -y post flag, --value cents
        if not _need_int(args.value):
            return 2
        out = S.diff_in_diff(df, args.x, args.y, args.value)
    elif args.test == "wmedian":
        # weighted median: --value cents, -x weight column, --by groups
        if not _need_int(args.value, args.x):
            return 2
        out = S.weighted_median(df, groups, args.value, args.x)
    elif args.test == "mk":
        # Mann-Kendall trend: --value cents, -x time-order column, --by series
        if not _need_int(args.value):
            return 2
        out = S.mann_kendall(df, groups, args.value, args.x)
    elif args.test == "ols2":
        # two-regressor OLS: -x x1, -y x2, --value y (all exact integers)
        if not _need_int(args.value, args.x, args.y):
            return 2
        out = S.ols2(df, args.x, args.y, args.value, groups)
    else:  # pragma: no cover - argparse choices guard
        raise ValueError(args.test)
    rows = out.collect()
    if not rows:
        print("(no rows)")
        return 0
    cols = rows[0].__fields__
    print("\t".join(cols))
    for r in rows:
        print("\t".join(str(r[c]) for c in cols))
    return 0


def cmd_clean(args) -> int:
    from datapipeline_spark.plans.scaffold import clean

    targets = clean(args.project, older_than=args.older_than, yes=args.yes)
    verb = "removed" if args.yes else "would remove (pass --yes)"
    for t in targets:
        print(f"{verb}\t{t}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="datapipeline-spark")
    p.add_argument("--master", default=None, help="Spark master (default: local[*])")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="command", required=True)

    q = sub.add_parser("sql", help="run ANSI SQL over project streams / raw tables")
    q.add_argument("query", help="SQL text; stream ids become views (dots/dashes -> _)")
    q.add_argument("--project", default=None, help="project dir whose streams to register")
    q.add_argument("--tables-dir", default=None, help="directory of <name>.parquet tables")
    q.add_argument("--limit", type=int, default=100, help="max rows to print (0 = all)")
    q.set_defaults(fn=cmd_sql)

    ck = sub.add_parser("checksum", help="order-independent content checksum of a parquet table")
    ck.add_argument("path", help="parquet file/dir")
    ck.add_argument("--cols", default=None, help="comma-separated columns (default: all non-float)")
    ck.add_argument("--buckets", type=int, default=16)
    ck.set_defaults(fn=cmd_checksum)

    stt = sub.add_parser(
        "stats", help="hypothesis tests / association measures on a parquet table"
    )
    stt.add_argument(
        "test",
        choices=["ks", "mw", "welch", "ztest", "chi2", "pearson", "spearman", "benford", "did", "wmedian", "mk", "ols2"],
    )
    stt.add_argument("path", help="parquet file/dir")
    stt.add_argument("--value", default=None, help="value column (ks/mw/benford/did cents) or success 0-1 column (ztest)")
    stt.add_argument("--side", default=None, help="0/1 sample/arm column (ks/mw/ztest)")
    stt.add_argument("-x", default=None, help="first column (chi2/pearson/spearman) / treat flag (did) / weight (wmedian) / order (mk)")
    stt.add_argument("-y", default=None, help="second column (chi2/pearson/spearman) / post flag (did)")
    stt.add_argument("--by", default=None, help="comma-separated group columns")
    stt.set_defaults(fn=cmd_stats)

    s = sub.add_parser("serve", help="build dataset and write fold outputs")
    s.add_argument("project")
    s.add_argument("--profile", default=None, help="serve profile name (default: all)")
    s.add_argument("--run-id", default=None)
    s.set_defaults(fn=cmd_serve)

    r = sub.add_parser("run", help="run all enabled profiles of one command in order")
    r.add_argument("project")
    r.add_argument("cmd", choices=["serve", "build", "inspect", "materialize"])
    r.add_argument("--run-id", default=None)
    r.set_defaults(fn=cmd_run)

    b = sub.add_parser("build", help="build/refresh artifacts")
    b.add_argument("project")
    b.add_argument("--force", action="store_true")
    b.set_defaults(fn=cmd_build)

    i = sub.add_parser("inspect", help="show compiled project info")
    i.add_argument("project")
    i.add_argument("--show", default=None, help="stream id to preview")
    i.add_argument("--limit", type=int, default=10)
    i.set_defaults(fn=cmd_inspect)

    m = sub.add_parser("materialize", help="persist one stream")
    m.add_argument("project")
    m.add_argument("stream")
    m.add_argument("out")
    m.add_argument("--format", default="jsonl", choices=["jsonl", "parquet", "orc"])
    m.add_argument("--gzip", action="store_true")
    m.add_argument("--limit", type=int, default=None)
    m.set_defaults(fn=cmd_materialize)

    ls = sub.add_parser("list", help="list registered entities or project members")
    ls.add_argument(
        "kind",
        choices=["sources", "streams", "loaders", "parsers", "mappers", "combiners", "queries"],
    )
    ls.add_argument("--project", default=None, help="required for sources/streams")
    ls.set_defaults(fn=cmd_list)

    for ent in ("source", "stream"):
        c = sub.add_parser(ent, help=f"scaffold a {ent}")
        csub = c.add_subparsers(dest=f"{ent}_cmd", required=True)
        cc = csub.add_parser("create", help=f"create a {ent} YAML skeleton")
        cc.add_argument("project")
        cc.add_argument("name")
        cc.set_defaults(fn=cmd_create)

    d = sub.add_parser("demo", help="demo project")
    dsub = d.add_subparsers(dest="demo_cmd", required=True)
    di = dsub.add_parser("init", help="create a runnable demo project")
    di.add_argument("dir")
    di.set_defaults(fn=cmd_demo)

    pl = sub.add_parser("plugin", help="plugin scaffolding")
    plsub = pl.add_subparsers(dest="plugin_cmd", required=True)
    pi = plsub.add_parser("init", help="create a plugin module skeleton")
    pi.add_argument("dir")
    pi.add_argument("name")
    pi.set_defaults(fn=cmd_plugin)

    ver = sub.add_parser("version", help="print engine + pyspark versions")
    ver.set_defaults(fn=cmd_version)

    envp = sub.add_parser("env", help="show engine environment details")
    envp.set_defaults(fn=cmd_env)

    cl = sub.add_parser("clean", help="inspect or remove stale run outputs/staging")
    cl.add_argument("--project", default=None)
    cl.add_argument("--yes", action="store_true", help="delete; default is dry-run")
    cl.add_argument("--older-than", default="0h", metavar="AGE", help="e.g. 30m, 24h, 7d")
    cl.set_defaults(fn=cmd_clean)

    v = sub.add_parser("preview", help="show a pipeline materialization point")
    v.add_argument("project")
    v.add_argument(
        "stage",
        choices=[
            "input",
            "canonical",
            "records",
            "series",
            "samples",
            "postprocess",
        ],
    )
    v.add_argument("--stream", default=None)
    v.add_argument("--limit", type=int, default=10)
    v.set_defaults(fn=cmd_preview)

    args = p.parse_args(argv)
    return args.fn(args)


def cmd_preview(args) -> int:
    from datapipeline_spark.api import preview

    df = preview(_spark(args), args.project, args.stage, stream=args.stream)
    df.show(args.limit, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
