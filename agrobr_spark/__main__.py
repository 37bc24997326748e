"""Engine CLI (ref: the reference ships an `agrobr` CLI;
tests/test_cli.py, 407 LoC). Subcommands mirror the operational
surface:

    python -m agrobr_spark datasets                 # list datasets
    python -m agrobr_spark contracts                # list contracts
    python -m agrobr_spark connectors               # list connector entry points
    python -m agrobr_spark queries [--tag A1]       # list catalog queries
    python -m agrobr_spark run <query> [--sf DIR] [--limit N] [--explain] [--json]
    python -m agrobr_spark validate <contract> <parquet_path>
    python -m agrobr_spark doctor [--store PATH]    # registry/store diagnostics
    python -m agrobr_spark sla [source]             # SLA registry (ref sla.py)
    python -m agrobr_spark freshness <history.parquet>  # SLA freshness report
    python -m agrobr_spark bench [--sf DIR]
    python -m agrobr_spark benchmark {contracts|semantic|queries}
        [--queries a,b] [--sf DIR] [--iterations N] [--json]
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark():
    from agrobr_spark.session import get_spark

    return get_spark(app_name="agrobr-cli")


def cmd_datasets(_args) -> int:
    from agrobr_spark.datasets.registry import DATASETS

    for name, contract in sorted(DATASETS.items()):
        print(f"{name}\t{contract}")
    return 0


def cmd_contracts(_args) -> int:
    from agrobr_spark.contracts import contract_names, get_contract

    for name in contract_names():
        c = get_contract(name)
        print(f"{name}\tv{c.version}\tpk=({', '.join(c.primary_key)})")
    return 0


def cmd_schemas(args) -> int:
    """Export every registered contract as reference-format JSON
    (ref: the `agrobr` package ships agrobr/schemas/*.json generated
    by generate_json_schemas)."""
    from agrobr_spark.contracts import export_json_schemas

    for path in export_json_schemas(args.out):
        print(path)
    return 0


def cmd_queries(args) -> int:
    from agrobr_spark.queries import catalog

    for name, entry in sorted(catalog().items()):
        if args.tag and args.tag not in entry.tags:
            continue
        oracle = "oracle" if entry.oracle else "rows-only"
        print(f"{name}\t[{', '.join(entry.tags)}]\t{oracle}")
    return 0


def cmd_connectors(_args) -> int:
    from agrobr_spark.sources import connectors  # noqa: F401 — registration
    from agrobr_spark.sources.connectors._base import list_connectors

    for name in list_connectors():
        print(name)
    return 0


def cmd_run(args) -> int:
    from agrobr_spark.queries import catalog

    entry = catalog().get(args.query)
    if entry is None:
        print(f"unknown query: {args.query}", file=sys.stderr)
        return 2
    df = entry.fn(_spark(), args.sf)
    if args.explain:
        df.explain("formatted")
        return 0
    if args.json:
        for row in df.limit(args.limit).collect():
            print(json.dumps(row.asDict(), default=str, ensure_ascii=False))
        return 0
    df.show(args.limit, truncate=False)
    return 0


def cmd_doctor(args) -> int:
    from agrobr_spark.health import doctor

    print(json.dumps(doctor(_spark(), store_path=args.store), indent=2))
    return 0


def cmd_sla(args) -> int:
    from agrobr_spark.sla import SLA_REGISTRY, get_sla

    if args.source:
        print(json.dumps(get_sla(args.source).to_dict(), indent=2))
    else:
        print(json.dumps(
            {name: sla.to_dict() for name, sla in sorted(SLA_REGISTRY.items())},
            indent=2,
        ))
    return 0


def cmd_freshness(args) -> int:
    from agrobr_spark.io import read_parquet
    from agrobr_spark.sla import freshness_report

    spark = _spark()
    hist = read_parquet(spark, args.history)
    for row in freshness_report(
        hist, source_col=args.source_col, date_col=args.date_col
    ).collect():
        print(json.dumps(row.asDict(), default=str, ensure_ascii=False))
    return 0


def cmd_validate(args) -> int:
    from agrobr_spark.contracts import get_contract
    from agrobr_spark.io import read_parquet

    contract = get_contract(args.contract)
    df = read_parquet(_spark(), args.path)
    missing = contract.missing_columns(df)
    if missing:
        print(json.dumps({"valid": False, "missing_columns": missing}))
        return 1
    row = contract.validation_query(df).collect()[0].asDict()
    valid = all(v == 0 for k, v in row.items() if k != "linhas")
    print(json.dumps({"valid": valid, **row}))
    return 0 if valid else 1


def cmd_bench(args) -> int:
    import os
    import subprocess

    env = dict(os.environ)
    if args.sf:
        env["SPARK_GRAFT_SF_DIR"] = args.sf
    return subprocess.call([sys.executable, "bench.py"], env=env)


def cmd_index(args) -> int:
    """Posting-index lifecycle from the shell: build it from a
    documents table, fold a new batch in, compact accreted batch
    directories into a fresh generation, or answer a BM25 query from
    the bucket-pruned read — the retrieval-store counterpart of the
    store-facing `doctor`/`freshness` commands."""
    from agrobr_spark.io import read_parquet
    from agrobr_spark.queries.pipeline_text import BM25_B, BM25_K1
    from agrobr_spark.store.posting import (
        bm25_topk_indexed,
        build_posting_index,
        compact_posting_index,
        update_posting_index,
    )

    spark = _spark()
    if args.action == "compact":
        n = compact_posting_index(spark, args.path)
        print(f"compacted {args.path} ({n} data files)")
        return 0
    if args.action in ("build", "update"):
        src = args.docs or f"{args.sf}/documents.parquet"
        docs = read_parquet(spark, src).select("doc_id", "text")
        if args.action == "build":
            build_posting_index(docs, args.path, n_buckets=args.buckets)
            print(f"built {args.path} (n_buckets={args.buckets})")
        else:
            update_posting_index(docs, args.path)
            print(f"updated {args.path}")
        return 0
    if not args.terms:
        print("error: query requires --terms", file=sys.stderr)
        return 2
    terms = tuple(t.strip().lower() for t in args.terms.split(",") if t.strip())
    out = bm25_topk_indexed(spark, args.path, terms, args.k, BM25_K1, BM25_B)
    rows = out.collect()
    if args.json:
        print(json.dumps([r.asDict() for r in rows], default=str))
    else:
        for r in rows:
            print(f"{r['doc_id']}\t{r['n_termos']}\t{r['pontos']}")
    return 0


def cmd_benchmark(args) -> int:
    """Library benchmark suites (ref: the reference's
    run_contract_benchmarks / run_semantic_benchmarks CLI surface,
    agrobr/benchmark/__init__.py:191-270): time contract validation,
    the semantic rule runner, or named catalog queries, and print the
    suite as the reference-shaped JSON dict (or its summary lines)."""
    from agrobr_spark.benchmark import (
        run_contract_benchmarks,
        run_query_benchmarks,
        run_semantic_benchmarks,
    )

    spark = _spark()
    if args.suite == "contracts":
        suite = run_contract_benchmarks(spark, iterations=args.iterations)
    elif args.suite == "semantic":
        suite = run_semantic_benchmarks(spark, iterations=args.iterations)
    else:  # queries
        names = None
        if args.queries:
            # user-typed names: strip whitespace and fail loudly on
            # unknowns instead of silently benchmarking a partial suite
            from agrobr_spark.queries import queries as _catalog

            names = [t.strip() for t in args.queries.split(",") if t.strip()]
            unknown = sorted(set(names) - set(_catalog()))
            if unknown:
                print(
                    f"error: unknown queries: {', '.join(unknown)}",
                    file=sys.stderr,
                )
                return 2
        suite = run_query_benchmarks(
            spark, args.sf, names=names, iterations=args.iterations
        )
    if args.json:
        print(json.dumps(suite.to_dict(), ensure_ascii=False))
    else:
        print(suite.summary())
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="agrobr_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("datasets")
    sub.add_parser("contracts")
    sc = sub.add_parser("schemas")
    sc.add_argument("out")
    sub.add_parser("connectors")
    q = sub.add_parser("queries")
    q.add_argument("--tag")
    r = sub.add_parser("run")
    r.add_argument("query")
    r.add_argument("--sf", default="/root/testdata/sf0.001")
    r.add_argument("--limit", type=int, default=20)
    r.add_argument("--explain", action="store_true")
    r.add_argument("--json", action="store_true")
    v = sub.add_parser("validate")
    v.add_argument("contract")
    v.add_argument("path")
    d = sub.add_parser("doctor")
    d.add_argument("--store", default=None)
    s = sub.add_parser("sla")
    s.add_argument("source", nargs="?", default=None)
    fr = sub.add_parser("freshness")
    fr.add_argument("history")
    fr.add_argument("--source-col", default="source")
    fr.add_argument("--date-col", default="data")
    ix = sub.add_parser("index")
    ix.add_argument("action", choices=("build", "update", "query", "compact"))
    ix.add_argument("path", help="posting-index directory")
    ix.add_argument("--docs", default=None,
                    help="parquet path/dir with (doc_id, text) rows "
                         "(build/update); defaults to --sf documents")
    ix.add_argument("--sf", default="/root/testdata/sf0.001")
    ix.add_argument("--terms", default=None,
                    help="comma-separated query terms (query)")
    ix.add_argument("--k", type=int, default=10)
    ix.add_argument("--buckets", type=int, default=64)
    ix.add_argument("--json", action="store_true")
    b = sub.add_parser("bench")
    b.add_argument("--sf")
    bm = sub.add_parser("benchmark")
    bm.add_argument("suite", choices=("contracts", "semantic", "queries"))
    bm.add_argument("--queries", default=None,
                    help="comma-separated catalog names (queries suite)")
    bm.add_argument("--sf", default="/root/testdata/sf0.001")
    bm.add_argument("--iterations", type=int, default=3)
    bm.add_argument("--json", action="store_true")
    args = p.parse_args(argv)
    return {
        "datasets": cmd_datasets,
        "contracts": cmd_contracts,
        "schemas": cmd_schemas,
        "connectors": cmd_connectors,
        "queries": cmd_queries,
        "run": cmd_run,
        "validate": cmd_validate,
        "doctor": cmd_doctor,
        "sla": cmd_sla,
        "freshness": cmd_freshness,
        "index": cmd_index,
        "bench": cmd_bench,
        "benchmark": cmd_benchmark,
    }[args.cmd](args)


if __name__ == "__main__":
    raise SystemExit(main())
