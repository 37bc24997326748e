"""Store layer: MERGE-upsert, append-only history, gaps, policies,
snapshots (SURVEY §2.9 M1-M5, §2.11 D4)."""

from __future__ import annotations

import datetime as dt
import decimal

import pyspark.sql.functions as F
import pytest

from agrobr_spark.store import (
    HistoryStore,
    IndicadoresStore,
    business_day_gaps,
    next_expiry,
    snapshot_filter,
    with_snapshot,
)
from agrobr_spark.store.indicadores import SCHEMA


def _row(produto, praca, data, valor, fonte="cepea", ts="2024-01-01 12:00:00"):
    return (
        produto,
        praca,
        dt.date.fromisoformat(data),
        fonte,
        decimal.Decimal(str(valor)),
        None,
        "BRL/sc60kg",
        dt.datetime.fromisoformat(ts),
    )


ORDER = ["produto", "praca", "data", "fonte", "valor", "variacao", "unidade", "collected_at"]


def _mk(spark, rows):
    return spark.createDataFrame([tuple(r[ORDER.index(c)] for c in SCHEMA.fieldNames()) for r in rows], SCHEMA)


def test_indicadores_upsert_lww_null_praca(spark, tmp_path):
    store = IndicadoresStore(spark, str(tmp_path / "ind"))
    base = _mk(
        spark,
        [
            _row("soja", "Paranagua", "2024-01-02", 120),
            _row("soja", None, "2024-01-02", 119),
            _row("milho", "Campinas", "2024-01-02", 60),
        ],
    )
    assert store.upsert(base) == 3
    # update soja/Paranagua + the NULL-praca row; insert a new date
    upd = _mk(
        spark,
        [
            _row("soja", "Paranagua", "2024-01-02", 121, ts="2024-01-02 12:00:00"),
            _row("soja", None, "2024-01-02", 118.5, ts="2024-01-02 12:00:00"),
            _row("soja", "Paranagua", "2024-01-03", 122, ts="2024-01-02 12:00:00"),
        ],
    )
    assert store.upsert(upd) == 3
    rows = {
        (r["produto"], r["praca"], r["data"].isoformat()): float(r["valor"])
        for r in store.table.read().collect()
    }
    assert len(rows) == 4  # 3 base keys (2 updated) + 1 insert
    assert rows[("soja", "Paranagua", "2024-01-02")] == 121.0
    assert rows[("soja", None, "2024-01-02")] == 118.5  # NULL-safe key matched
    assert rows[("milho", "Campinas", "2024-01-02")] == 60.0

    # untouched partition files not rewritten on a soja-only merge
    q = store.query("soja", inicio="2024-01-03").collect()
    assert [float(r["valor"]) for r in q] == [122.0]


def test_history_append_only_dedup(spark, tmp_path):
    h = HistoryStore(spark, str(tmp_path / "hist"))
    t0 = dt.datetime(2024, 1, 1, 8)
    batch = spark.createDataFrame(
        [("k1", dt.date(2024, 1, 1), t0, bytearray(b"a"))],
        "key string, data_date date, collected_at timestamp, payload binary",
    )
    assert h.append(batch) == 1
    assert h.append(batch) == 0  # silently exists
    batch2 = spark.createDataFrame(
        [("k1", dt.date(2024, 1, 1), t0 + dt.timedelta(hours=1), bytearray(b"b"))],
        "key string, data_date date, collected_at timestamp, payload binary",
    )
    assert h.append(batch2) == 1
    assert h.read().count() == 2


def test_business_day_gaps(spark):
    have = spark.createDataFrame(
        [(dt.date(2024, 1, 2),), (dt.date(2024, 1, 4),)], "data date"
    )
    gaps = [
        r["data"].isoformat()
        for r in business_day_gaps(have, dt.date(2024, 1, 1), dt.date(2024, 1, 8)).collect()
    ]
    # 1/1 Mon, 1/3 Wed, 1/5 Fri, 1/8 Mon missing; 1/6-1/7 weekend excluded
    assert gaps == ["2024-01-01", "2024-01-03", "2024-01-05", "2024-01-08"]


def test_next_expiry_publication_time():
    before = dt.datetime(2024, 3, 1, 12, 0, tzinfo=dt.timezone.utc)  # 09:00 SP
    after = dt.datetime(2024, 3, 1, 22, 0, tzinfo=dt.timezone.utc)  # 19:00 SP
    e1 = next_expiry("cepea", before)
    e2 = next_expiry("cepea", after)
    assert e1.astimezone(dt.timezone.utc).hour == 21  # 18:00 SP == 21:00 UTC
    assert e1.date() == dt.date(2024, 3, 1)
    assert e2.date() == dt.date(2024, 3, 2)
    # plain-TTL source
    assert next_expiry("ibge", before) == before + dt.timedelta(days=7)


def test_snapshot_filter(spark):
    df = spark.createDataFrame(
        [(dt.date(2024, 1, d),) for d in (1, 5, 9)], "data date"
    )
    assert snapshot_filter(df).count() == 3  # no pin active
    with with_snapshot(dt.date(2024, 1, 5)):
        assert snapshot_filter(df).count() == 2
    assert snapshot_filter(df).count() == 3  # pin released


class TestMigrations:
    """M6 versioned schema migrations (ref: agrobr/cache/migrations.py)."""

    def _store(self, spark, tmp_path):
        from agrobr_spark.store.table import ParquetStore

        return ParquetStore(
            spark, str(tmp_path / "tbl"), primary_key=("k",)
        )

    def test_apply_pending_and_idempotent(self, spark, tmp_path):
        from agrobr_spark.store.migrations import (
            add_column,
            current_version,
            migrate,
            widen_column,
        )

        store = self._store(spark, tmp_path)
        store.overwrite(spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"))
        migs = [
            (1, "add fonte", add_column("fonte", "string")),
            (2, "widen v", widen_column("v", "double")),
        ]
        assert migrate(store, migs) == 2
        df = store.read()
        assert dict(df.dtypes) == {"k": "int", "v": "double", "fonte": "string"}
        assert current_version(store) == 2
        # idempotent: second run is a no-op at version 2
        assert migrate(store, migs) == 2

    def test_partial_catchup(self, spark, tmp_path):
        from agrobr_spark.store.migrations import add_column, migrate

        store = self._store(spark, tmp_path)
        store.overwrite(spark.createDataFrame([(1,)], "k int"))
        assert migrate(store, [(1, "a", add_column("a", "int"))]) == 1
        out = migrate(
            store,
            [
                (1, "a", add_column("a", "int")),
                (2, "b", add_column("b", "int")),
            ],
        )
        assert out == 2
        assert set(store.read().columns) == {"k", "a", "b"}


def test_merge_upsert_partition_cardinality_guard(spark, tmp_path, monkeypatch):
    from agrobr_spark.store import table as table_mod
    from agrobr_spark.store.table import ParquetStore

    monkeypatch.setattr(table_mod, "_MAX_PARTITIONS_PER_MERGE", 3)
    store = ParquetStore(
        spark, str(tmp_path / "t"), primary_key=("k",), partition_col="p"
    )
    small = spark.createDataFrame(
        [(i, f"p{i % 2}") for i in range(6)], "k int, p string"
    )
    assert store.merge_upsert(small) == 6  # first write, 2 partitions: fine
    wide = spark.createDataFrame(
        [(i, f"p{i}") for i in range(5)], "k int, p string"
    )
    with pytest.raises(ValueError, match="spans >3"):
        store.merge_upsert(wide)


def test_merge_upsert_extra_partitions_dedups_moved_pk(spark, tmp_path):
    """A PK row whose partition column is DERIVED FROM A MUTABLE
    attribute (the labels_by_comp secondary layout: cbalde =
    pmod(componente)) MOVES partitions when that attribute changes.
    The staged row rewrites the new partition, but the stale old copy
    lives in a partition the staging batch never names — it must join
    the dedup via ``extra_partitions`` or the PK silently duplicates;
    a partition the dedup leaves EMPTY must lose its files too
    (dynamic overwrite alone never touches it)."""
    import os

    from agrobr_spark.store.table import ParquetStore

    def rows(store):
        return sorted(
            (r["k"], r["comp"], r["p"]) for r in store.read().collect()
        )

    # control: WITHOUT extra_partitions the stale copy survives — the
    # duplicate documents why the knob exists
    s0 = ParquetStore(
        spark, str(tmp_path / "t0"), primary_key=("k",), partition_col="p"
    )
    s0.merge_upsert(
        spark.createDataFrame(
            [(1, 10, 0), (2, 20, 1)], "k int, comp int, p int"
        )
    )
    s0.merge_upsert(
        spark.createDataFrame([(1, 11, 1)], "k int, comp int, p int")
    )
    assert rows(s0) == [(1, 10, 0), (1, 11, 1), (2, 20, 1)]  # dup PK!

    # with extra_partitions: old copy deduped, PK unique again
    s1 = ParquetStore(
        spark, str(tmp_path / "t1"), primary_key=("k",), partition_col="p"
    )
    s1.merge_upsert(
        spark.createDataFrame(
            [(1, 10, 0), (2, 20, 1), (3, 30, 0)], "k int, comp int, p int"
        )
    )
    s1.merge_upsert(
        spark.createDataFrame([(1, 11, 1)], "k int, comp int, p int"),
        extra_partitions=[0],
    )
    assert rows(s1) == [(1, 11, 1), (2, 20, 1), (3, 30, 0)]

    # emptied-partition case: k=3 was p=0's LAST row; after it moves,
    # dynamic overwrite writes nothing under p=0, so the explicit
    # delete must remove the directory or the stale file resurrects it
    s1.merge_upsert(
        spark.createDataFrame([(3, 31, 1)], "k int, comp int, p int"),
        extra_partitions=[0],
    )
    assert rows(s1) == [(1, 11, 1), (2, 20, 1), (3, 31, 1)]
    assert not os.path.exists(str(tmp_path / "t1" / "p=0"))


def _files_and_mtimes(root):
    import os

    return {
        os.path.relpath(os.path.join(d, f), root): os.stat(
            os.path.join(d, f)
        ).st_mtime_ns
        for d, _, files in os.walk(root)
        for f in files
    }


@pytest.mark.parametrize("part", [None, "p"])
def test_merge_upsert_empty_batch_leaves_store_as_it_was(
    spark, tmp_path, part
):
    """An empty batch returns 0 whichever way the merge counts it: a
    new store stays absent (no table, no stage), and an existing one
    keeps every file with its mtime. Both an empty filter and an empty
    local relation (a plan the optimizer folds to nothing) are
    covered."""
    import os

    from agrobr_spark.store.table import ParquetStore

    df = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p")
    )
    empties = [df.filter("k < 0"), spark.createDataFrame([], df.schema)]

    new = ParquetStore(spark, str(tmp_path / "new"), ("k",), part)
    for empty in empties:
        assert new.merge_upsert(empty) == 0
        assert not os.path.exists(new.path)
        assert not os.path.exists(new._staged_dir())
        assert not new.exists()

    old = ParquetStore(spark, str(tmp_path / "old"), ("k",), part)
    assert old.merge_upsert(df) == 30
    before = _files_and_mtimes(old.path)
    for empty in empties:
        assert old.merge_upsert(empty) == 0
        assert _files_and_mtimes(old.path) == before
        assert not os.path.exists(old._staged_dir())
    assert old.read().count() == 30


@pytest.mark.parametrize("part", [None, "p"])
def test_merge_upsert_into_new_store_costs_no_more_than_a_write(
    spark, tmp_path, part
):
    """Without a caller count, the row count of a merge into a new
    store rides its one write: it submits no more Spark jobs than
    ``write_parquet`` of the same frame. The merge into the existing
    store then returns the staged row count too."""
    from agrobr_spark.io import write_parquet
    from agrobr_spark.store.table import ParquetStore

    sched = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(fn):
        before = sched.nextJobId()
        out = fn()
        return out, sched.nextJobId() - before

    df = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p"),
        F.lit("a").alias("v"),
    )
    _, write_jobs = jobs(lambda: write_parquet(
        df, str(tmp_path / "w"), (part,) if part else ()
    ))
    store = ParquetStore(spark, str(tmp_path / "s"), ("k",), part)
    n, merge_jobs = jobs(lambda: store.merge_upsert(df))
    assert n == 40
    assert merge_jobs <= write_jobs, (merge_jobs, write_jobs)
    upd = df.filter("k < 10").withColumn("v", F.lit("b"))
    assert store.merge_upsert(upd) == 10
    got = sorted((r["k"], r["v"]) for r in store.read().collect())
    assert got == [(k, "b" if k < 10 else "a") for k in range(40)]


def test_merge_upsert_count_without_partition_list(spark, tmp_path):
    """A caller count passed without ``staging_partitions`` into an
    existing partitioned store: the grouped collect still lists the
    touched partitions, so every staged PK is deduped against its old
    copy and untouched partitions keep their files."""
    import os

    from agrobr_spark.store.table import ParquetStore

    df = spark.range(12).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p"),
        F.lit("a").alias("v"),
    )
    store = ParquetStore(spark, str(tmp_path / "t"), ("k",), "p")
    assert store.merge_upsert(df) == 12
    untouched = _files_and_mtimes(os.path.join(store.path, "p=2"))
    upd = df.filter("p < 2").withColumn("v", F.lit("b"))
    assert store.merge_upsert(upd, staged_count=8) == 8
    got = sorted((r["k"], r["v"]) for r in store.read().collect())
    assert got == [(k, "b" if k % 3 < 2 else "a") for k in range(12)]
    assert _files_and_mtimes(os.path.join(store.path, "p=2")) == untouched


@pytest.mark.parametrize("part", [None, "p"])
def test_merge_upsert_staging_from_another_session(spark, tmp_path, part):
    """A foreachBatch micro-batch runs in the stream's own session, not
    the store's. A merge whose row count rides an Observation must
    still return (an observation registered in the staging frame's
    session would never fire on a write run in the store's session,
    and ``Observation.get`` would block), so each merge runs in a
    thread with a deadline."""
    import threading

    from agrobr_spark.store.table import ParquetStore

    other = spark.newSession()
    store = ParquetStore(spark, str(tmp_path / "t"), ("k",), part)

    def batch(lo):
        return other.range(lo, lo + 10).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("p")
        )

    empty = batch(0).filter("k < 0")
    for frame, want in ((batch(0), 10), (batch(5), 10), (empty, 0)):
        got = []
        t = threading.Thread(
            target=lambda: got.append(store.merge_upsert(frame)), daemon=True
        )
        t.start()
        t.join(120)
        assert got == [want], "merge_upsert did not return"
    assert sorted(r["k"] for r in store.read().collect()) == list(range(15))


def test_exists_via_hadoop_fs(spark, tmp_path):
    from agrobr_spark.store.table import ParquetStore

    store = ParquetStore(spark, str(tmp_path / "nowhere"), primary_key=("k",))
    assert not store.exists()
    spark.createDataFrame([(1,)], "k int").write.parquet(str(tmp_path / "t2"))
    assert ParquetStore(spark, str(tmp_path / "t2"), primary_key=("k",)).exists()


def test_staging_cleanup_via_hadoop_fs(spark, tmp_path):
    """rewrite() must remove its ._staged sibling through the Hadoop FS
    API (works beyond the local filesystem — completes the r3 exists()
    hardening for the delete path)."""
    from agrobr_spark.store.table import ParquetStore

    path = str(tmp_path / "t_rw")
    store = ParquetStore(spark, path, primary_key=("k",))
    store.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    store.rewrite(store.read().withColumnRenamed("v", "v2"))
    import os

    assert not os.path.exists(path + "._staged")
    assert store.read().columns == ["k", "v2"]


def test_fs_helpers_roundtrip(spark, tmp_path):
    """read_text/write_text/delete_path against a scheme-qualified
    (file://) path — the s3a-style pattern used for exists()."""
    from agrobr_spark.store.fs import delete_path, path_exists, read_text, write_text

    p = "file://" + str(tmp_path / "meta" / "x.json")
    assert read_text(spark, p) is None
    write_text(spark, p, '{"schema_version": 7}')
    assert read_text(spark, p) == '{"schema_version": 7}'
    assert path_exists(spark, p)
    assert delete_path(spark, p)
    assert not path_exists(spark, p)
    assert not delete_path(spark, p)  # idempotent on missing


def test_migration_meta_on_scheme_qualified_path(spark, tmp_path):
    """Migrations record/read their version sidecar through the FS
    API, so a file:// store migrates identically to a bare path."""
    from agrobr_spark.store.migrations import add_column, current_version, migrate
    from agrobr_spark.store.table import ParquetStore

    path = "file://" + str(tmp_path / "t_mig")
    store = ParquetStore(spark, path, primary_key=("k",))
    store.overwrite(spark.createDataFrame([(1,)], "k int"))
    assert current_version(store) == 0
    got = migrate(store, [(1, "add v", add_column("v", "string"))])
    assert got == 1
    assert current_version(store) == 1
    assert "v" in store.read().columns
    # idempotent re-run
    assert migrate(store, [(1, "add v", add_column("v", "string"))]) == 1


def test_compact_small_files(spark, tmp_path):
    """Compaction collapses the per-upsert file accretion to one file
    per partition without changing the data."""
    from agrobr_spark.store.table import ParquetStore, compact

    store = ParquetStore(
        spark, str(tmp_path / "t_compact"), primary_key=("k",),
        partition_col="p",
    )
    for i in range(4):
        store.merge_upsert(
            spark.createDataFrame(
                [(i * 10 + j, f"g{j % 2}") for j in range(6)], "k int, p string"
            ).repartition(3)
        )
    before = sorted(r[0] for r in store.read().select("k").collect())
    n_files = compact(store, files_per_partition=1)
    after = sorted(r[0] for r in store.read().select("k").collect())
    assert after == before
    assert n_files <= 2  # one per partition value (g0, g1)


def test_compact_partitioned_plan_is_parallel(spark, tmp_path):
    """A partitioned table's compaction rewrite shuffles on
    (partition value, PK-hash salt) — parallel across partitions —
    and never global-coalesces (the pre-r13 plan serialized the
    whole table into ``files_per_partition`` tasks). The salt bounds
    files-per-partition at N without capping task parallelism."""
    from agrobr_spark.store.table import (
        ParquetStore,
        _compacted_frame,
        compact,
    )

    store = ParquetStore(
        spark, str(tmp_path / "t_cplan"), primary_key=("k",),
        partition_col="p",
    )
    store.overwrite(
        spark.createDataFrame(
            [(i, f"g{i % 3}") for i in range(60)], "k int, p string"
        )
    )
    plan = (
        _compacted_frame(store, 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning(p#" in plan
    assert "Coalesce" not in plan
    # and the salt actually bounds files per partition at N=2
    n_files = compact(store, files_per_partition=2)
    assert n_files <= 6  # 3 partition values x <=2 salt groups
    got = sorted(r[0] for r in store.read().select("k").collect())
    assert got == list(range(60))


def test_overwrite_resolves_pending_stage(spark, tmp_path):
    """An uncleared committed stage pending at overwrite() time must
    be resolved BEFORE the overwrite — otherwise the next read's
    roll-forward would clobber the newer overwrite with the crashed
    rewrite's older data."""
    import os

    from agrobr_spark.store.table import ParquetStore

    path = str(tmp_path / "t_swap_ow")
    store = ParquetStore(spark, path, primary_key=("k",))
    store.overwrite(spark.createDataFrame([(1,)], "k int"))
    staged = store._staged_dir()
    spark.createDataFrame([(9,)], "k int").write.parquet(staged)
    store.overwrite(spark.createDataFrame([(5,)], "k int"))
    assert not os.path.exists(staged)
    assert [r[0] for r in store.read().collect()] == [5]


def test_posting_index_build_and_query(spark, tmp_path):
    """store/posting.py (r8 verdict next #2): the bucketed posting
    index answers BM25 identically to first principles, reads only
    the query terms' buckets, and round-trips its manifest."""
    import math

    from agrobr_spark.store.posting import (
        bm25_topk_indexed,
        build_posting_index,
        query_postings,
        read_manifest,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta beta gamma"),
            (2, "alpha alpha delta"),
            (3, "epsilon zeta"),
            (4, "  "),  # blank docs are excluded, like the scan path
        ],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "idx")
    build_posting_index(docs, path, n_buckets=8)
    assert read_manifest(path)["n_buckets"] == 8

    # posting rows: (doc, term) tf with per-doc length
    rows = {
        (r["doc_id"], r["termo"]): (r["dl"], r["tf"])
        for r in query_postings(spark, path, ("alpha", "beta")).collect()
    }
    assert rows == {
        (1, "alpha"): (4, 1),
        (1, "beta"): (4, 2),
        (2, "alpha"): (3, 2),
    }

    # hand-computed BM25: N=3 docs (blank excluded), avgdl=(4+3+2)/3=3
    k1, b = 1.2, 0.75
    got = {
        r["doc_id"]: (r["n_termos"], r["pontos"])
        for r in bm25_topk_indexed(
            spark, path, ("alpha", "beta"), 10, k1, b
        ).collect()
    }

    def score(tf, dl, df, n=3, avgdl=3.0):
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        return round(idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)), 6)

    exp1 = round(score(1, 4, 2) + score(2, 4, 1), 6)
    exp2 = round(score(2, 3, 2), 6)
    assert got == {1: (2, exp1), 2: (1, exp2)}


def test_posting_index_incremental_update_equals_rebuild(spark, tmp_path):
    """update_posting_index: corpus build + batch update must be
    query-identical to one rebuild over corpus ∪ batch — postings
    appended at the frozen bucket width, stats folded exactly from the
    carried (n, sum_dl)."""
    from agrobr_spark.store.posting import (
        bm25_topk_indexed,
        build_posting_index,
        update_posting_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta beta gamma"),
            (2, "alpha alpha delta"),
            (3, "epsilon zeta alpha"),
            (4, "beta beta beta epsilon"),
            (5, "gamma delta"),
        ],
        "doc_id bigint, text string",
    )
    corpus = docs.filter("doc_id <= 3")
    batch = docs.filter("doc_id > 3")
    terms = ("alpha", "beta", "epsilon")

    inc = str(tmp_path / "inc")
    build_posting_index(corpus, inc, n_buckets=8)
    update_posting_index(batch, inc)

    full = str(tmp_path / "full")
    build_posting_index(docs, full, n_buckets=8)

    def answer(path):
        return [
            tuple(r)
            for r in bm25_topk_indexed(
                spark, path, terms, 10, 1.2, 0.75
            ).collect()
        ]

    assert answer(inc) == answer(full)
    from agrobr_spark.store.posting import read_stats

    s_inc = read_stats(inc)
    s_full = read_stats(full)
    assert (s_inc["n"], s_inc["sum_dl"]) == (s_full["n"], s_full["sum_dl"])
    assert s_inc["avgdl"] == s_full["avgdl"]


def test_posting_index_batchid_replay_is_noop(spark, tmp_path):
    """Streaming exactly-once for the posting index: re-applying an
    epoch with the same batch_id must change neither postings nor
    stats; a NEW batch_id with the same rows double-counts (the
    documented append contract — the guard is the batch id, not row
    content)."""
    from agrobr_spark.store.posting import (
        _postings_frame,
        build_posting_index,
        read_manifest,
        read_stats,
        update_posting_index,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma")],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [(3, "alpha alpha delta")], "doc_id bigint, text string"
    )
    path = str(tmp_path / "idx")
    build_posting_index(corpus, path, n_buckets=8)

    def state():
        stats = read_stats(path)
        rows = sorted(
            tuple(r) for r in _postings_frame(spark, path).collect()
        )
        return (stats["n"], stats["sum_dl"], rows)

    update_posting_index(batch, path, batch_id=0)
    s1 = state()
    update_posting_index(batch, path, batch_id=0)  # replayed epoch
    assert state() == s1
    assert read_manifest(path)["applied_batch_ids"] == [0]
    update_posting_index(batch, path, batch_id=1)  # new epoch: applied
    assert state()[0] == s1[0] + 1


def test_posting_index_compaction(spark, tmp_path):
    """compact_posting_index (r9 VERDICT next #4): indexed query
    results are identical pre/post compaction, the posting file count
    drops, the manifest generation advances with active batches
    folded, and the exactly-once replay guard survives compaction."""
    from agrobr_spark.store.posting import (
        bm25_topk_indexed,
        build_posting_index,
        compact_posting_index,
        posting_file_count,
        read_manifest,
        read_stats,
        update_posting_index,
    )

    docs = [
        (i, f"alpha term{i % 7} beta term{i % 5} gamma") for i in range(40)
    ]
    corpus = spark.createDataFrame(
        docs[:20], "doc_id bigint, text string"
    )
    path = str(tmp_path / "idx")
    build_posting_index(corpus, path, n_buckets=8)
    for e, lo in enumerate(range(20, 40, 5)):
        update_posting_index(
            spark.createDataFrame(
                docs[lo:lo + 5], "doc_id bigint, text string"
            ),
            path,
            batch_id=e,
        )
    terms = ("alpha", "term3", "gamma")
    before = [
        tuple(r)
        for r in bm25_topk_indexed(
            spark, path, terms, 10, 1.2, 0.75
        ).collect()
    ]
    files_before = posting_file_count(spark, path)
    stats_before = read_stats(path)

    files_after = compact_posting_index(spark, path)
    man = read_manifest(path)
    assert man["version"] == 1
    assert man["postings_dir"] == "postings_v1"
    assert man["active_batches"] == []
    assert man["applied_batch_ids"] == [0, 1, 2, 3]
    assert files_after < files_before
    after = [
        tuple(r)
        for r in bm25_topk_indexed(
            spark, path, terms, 10, 1.2, 0.75
        ).collect()
    ]
    assert after == before
    assert read_stats(path) == stats_before
    # replay of an already-compacted epoch is still a no-op
    update_posting_index(
        spark.createDataFrame(docs[20:25], "doc_id bigint, text string"),
        path,
        batch_id=0,
    )
    assert read_stats(path) == stats_before


def test_positional_index_compaction(spark, tmp_path):
    """The positional (no-stats) index compacts through the same
    protocol: phrase answers identical pre/post, batch dirs folded."""
    from agrobr_spark.store.posting import (
        build_positional_index,
        compact_posting_index,
        phrase_match_indexed,
        read_manifest,
        update_positional_index,
    )

    corpus = spark.createDataFrame(
        [(1, "big red fox"), (2, "big red dog big red fox")],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [(3, "small cat big red fox end")], "doc_id bigint, text string"
    )
    path = str(tmp_path / "pidx")
    build_positional_index(corpus, path, n_buckets=8)
    update_positional_index(batch, path, batch_id=0)
    phrases = ("big red fox",)

    def answer():
        return sorted(
            tuple(r)
            for r in phrase_match_indexed(spark, path, phrases).collect()
        )

    before = answer()
    assert [r[0] for r in before] == [1, 2, 3]
    compact_posting_index(spark, path)
    assert answer() == before
    assert read_manifest(path)["active_batches"] == []


def test_zorder_write_clusters_both_columns(spark, tmp_path):
    """Z-order layout: after a z-curve rewrite on (a, b), EACH file's
    min/max span in BOTH columns must be a small fraction of the
    global span (a plain sort clusters only its leading column), so
    parquet min/max stats prune selective filters on either column.
    Measured from the actual footers, not asserted from theory."""
    import glob

    import pyarrow.parquet as papq

    from agrobr_spark.store.layout import zorder_write

    n = 1 << 12
    # two independent uniform dims (decorrelated via bit-reversal)
    rows = [(i % 64, int(f"{i % 64:06b}"[::-1], 2)) for i in range(n)]
    df = spark.createDataFrame(rows, "a int, b int")

    zpath = str(tmp_path / "z")
    zorder_write(df, zpath, ["a", "b"], bits=6, n_files=16)

    spans = {"a": [], "b": []}
    for f in glob.glob(f"{zpath}/*.parquet"):
        md = papq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                name = col.path_in_schema
                st = col.statistics
                if name in spans and st is not None:
                    spans[name].append(st.max - st.min)
    for name in ("a", "b"):
        assert spans[name], f"no stats for {name}"
        mean_span = sum(spans[name]) / len(spans[name])
        # global span is 63; z-ordered files must average well under
        # half of it in BOTH dims (a 1-D sort gives ~full span on the
        # trailing column)
        assert mean_span < 0.5 * 63, f"{name}: mean span {mean_span}"

    # and the rewrite is lossless
    back = spark.read.parquet(zpath)
    assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_positional_index_build_query_and_phrase(spark, tmp_path):
    """store/posting.py positional extension: positions survive the
    bucketed round-trip, the phrase path counts occurrences (incl.
    repeats) exactly, and an incremental update plus replay guard
    matches a full rebuild."""
    from agrobr_spark.store.posting import (
        build_positional_index,
        phrase_match_indexed,
        query_postings,
        read_manifest,
        update_positional_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "big scan query big scan query big"),
            (2, "scan query"),
            (3, "  "),
        ],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "pidx")
    build_positional_index(docs, path, n_buckets=8)
    assert read_manifest(path)["kind"] == "positional"

    got = {
        (r["pos"], r["termo"])
        for r in query_postings(spark, path, ("big",)).collect()
        if r["doc_id"] == 1
    }
    assert got == {(0, "big"), (3, "big"), (6, "big")}

    hits = {
        (r["doc_id"], r["frase"]): r["n_ocorrencias"]
        for r in phrase_match_indexed(
            spark, path, ("scan query big", "scan query")
        ).collect()
    }
    assert hits == {
        (1, "scan query big"): 2,
        (1, "scan query"): 2,
        (2, "scan query"): 1,
    }

    # incremental fold: new doc appended into the frozen buckets ...
    novo = spark.createDataFrame(
        [(9, "scan query big")], "doc_id bigint, text string"
    )
    update_positional_index(novo, path, batch_id=1)
    # ... and a replayed epoch is a no-op, not a double-count
    update_positional_index(novo, path, batch_id=1)
    hits2 = {
        (r["doc_id"], r["frase"]): r["n_ocorrencias"]
        for r in phrase_match_indexed(
            spark, path, ("scan query big",)
        ).collect()
    }
    assert hits2 == {(1, "scan query big"): 2, (9, "scan query big"): 1}

    full = str(tmp_path / "pidx_full")
    build_positional_index(docs.union(novo), full, n_buckets=8)
    direto = {
        (r["doc_id"], r["frase"]): r["n_ocorrencias"]
        for r in phrase_match_indexed(
            spark, full, ("scan query big",)
        ).collect()
    }
    assert direto == hits2


def test_posting_index_empty_epoch_is_guarded_noop(spark, tmp_path):
    """r10 review finding: an EMPTY epoch (no docs, or all-blank
    texts) must not commit a rows-free batch directory — a
    partitioned write of an empty frame emits no parquet files, and a
    committed empty directory would brick every later read. The
    batch_id still enters the replay guard, queries keep working, and
    a non-empty epoch with a later id lands normally."""
    from agrobr_spark.store.posting import (
        _postings_frame,
        build_posting_index,
        read_manifest,
        read_stats,
        update_posting_index,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta")], "doc_id bigint, text string"
    )
    path = str(tmp_path / "idx")
    build_posting_index(corpus, path, n_buckets=8)

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    blank = spark.createDataFrame([(9, "   ")], "doc_id bigint, text string")
    update_posting_index(empty, path, batch_id=0)
    update_posting_index(blank, path, batch_id=1)
    man = read_manifest(path)
    assert man["applied_batch_ids"] == [0, 1]
    assert man["active_batches"] == []
    assert _postings_frame(spark, path).count() == 2  # still readable
    assert read_stats(path)["n"] == 1
    # replay of the empty epoch stays a no-op; a real epoch still lands
    update_posting_index(empty, path, batch_id=0)
    update_posting_index(
        spark.createDataFrame([(2, "gamma")], "doc_id bigint, text string"),
        path,
        batch_id=2,
    )
    assert read_stats(path)["n"] == 2


def test_bm25_query_terms_absent_from_corpus_return_empty(
    spark, tmp_path, monkeypatch
):
    """Query terms the corpus never holds score nothing, without
    error, on both twins. Their df is 0, read off the empty pin: also
    when the pin's Observation does not fire, the fallback aggregates
    the pinned rows instead of assuming zeros."""
    import agrobr_spark.io as io
    from agrobr_spark.queries.pipeline_text import bm25_scores
    from agrobr_spark.store.posting import (
        bm25_topk_indexed,
        build_posting_index,
        pin_term_rows,
    )
    from tests.conftest import SF_SMOKE

    path = str(tmp_path / "idx")
    build_posting_index(
        spark.createDataFrame(
            [(1, "alpha beta"), (2, "alpha gamma")],
            "doc_id bigint, text string",
        ),
        path,
        n_buckets=4,
    )
    def answer(terms):
        return [
            r["doc_id"]
            for r in bm25_topk_indexed(
                spark, path, terms, 10, 1.2, 0.75
            ).collect()
        ]

    assert answer(("zzz", "qqq")) == []
    assert answer(("beta", "zzz")) == [1]
    assert bm25_scores(spark, SF_SMOKE, ("zzzabsentzzz",)).count() == 0

    empty = spark.createDataFrame(
        [], "doc_id bigint, dl int, termo string, tf bigint"
    )
    for fired in (True, False):
        if not fired:
            monkeypatch.setattr(io, "observed", lambda obs: None)
        rows, df = pin_term_rows(empty, ("zzz", "qqq"))
        assert df == {"zzz": 0, "qqq": 0}
        assert rows.isEmpty()


def test_posting_index_zero_document_base(spark, tmp_path):
    """A BM25 index built over zero documents reads as empty (n 0, no
    avgdl), answers queries with no rows, and takes updates and a
    compaction like any other base."""
    from agrobr_spark.store.posting import (
        bm25_topk_indexed,
        build_posting_index,
        compact_posting_index,
        read_stats,
        update_posting_index,
    )

    schema = "doc_id bigint, text string"
    path = str(tmp_path / "idx")
    build_posting_index(spark.createDataFrame([], schema), path, n_buckets=4)
    assert read_stats(path) == {"n": 0, "sum_dl": None, "avgdl": None}

    def answer(p):
        return bm25_topk_indexed(
            spark, p, ("alpha", "beta"), 10, 1.2, 0.75
        ).collect()

    assert answer(path) == []

    batch = spark.createDataFrame([(1, "alpha beta"), (2, "alpha")], schema)
    update_posting_index(batch, path, batch_id=0)
    full = str(tmp_path / "full")
    build_posting_index(batch, full, n_buckets=4)
    assert read_stats(path) == read_stats(full)
    assert read_stats(full) == {"n": 2, "sum_dl": 3, "avgdl": 1.5}
    assert answer(path) == answer(full)
    compact_posting_index(spark, path)
    assert read_stats(path) == read_stats(full)
    assert answer(path) == answer(full)


def test_posting_index_rejects_another_tokenizer_version(spark, tmp_path):
    """Postings tokenized by another tokenizer (manifest
    ``tokenizer_version`` 0, or none recorded) cannot answer queries
    tokenized by this one: reading the manifest, querying and
    updating all raise, naming the path and asking for a rebuild."""
    import json
    import os
    import re

    from agrobr_spark.store.posting import (
        bm25_topk_indexed,
        build_posting_index,
        read_manifest,
        update_posting_index,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta")], "doc_id bigint, text string"
    )
    path = str(tmp_path / "idx")
    build_posting_index(docs, path, n_buckets=4)
    manifest = os.path.join(path, "manifest.json")
    with open(manifest, encoding="utf-8") as fh:
        man = json.load(fh)
    assert read_manifest(path)["tokenizer_version"] == 1
    stale = re.escape(path) + ".*tokenizer_version.*rebuild"
    for rewrite in (lambda m: m.update(tokenizer_version=0),
                    lambda m: m.pop("tokenizer_version")):
        rewrite(man)
        with open(manifest, "w", encoding="utf-8") as fh:
            json.dump(man, fh)
        for op in (
            lambda: read_manifest(path),
            lambda: bm25_topk_indexed(spark, path, ("alpha",), 10, 1.2, 0.75),
            lambda: update_posting_index(
                spark.createDataFrame(
                    [(2, "gamma")], "doc_id bigint, text string"
                ),
                path,
            ),
        ):
            with pytest.raises(ValueError, match=stale):
                op()
    assert not os.path.exists(os.path.join(path, "batches"))


def test_read_stats_rejects_a_manifest_without_stats(spark, tmp_path):
    """A manifest of the previous layout (stats in a ``stats/``
    parquet sidecar, no ``n``/``sum_dl``) and a positional index's
    manifest carry no corpus stats: reading them raises, naming the
    path and asking for a rebuild, rather than reading a sidecar."""
    import json
    import os
    import re

    import pytest

    from agrobr_spark.store.posting import (
        bm25_topk_indexed,
        build_positional_index,
        build_posting_index,
        read_stats,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta")], "doc_id bigint, text string"
    )
    path = str(tmp_path / "idx")
    build_posting_index(docs, path, n_buckets=4)
    manifest = os.path.join(path, "manifest.json")
    with open(manifest, encoding="utf-8") as fh:
        man = json.load(fh)
    for k in ("n", "sum_dl", "postings_schema"):
        del man[k]
    man["stats_dir"] = "stats"
    with open(manifest, "w", encoding="utf-8") as fh:
        json.dump(man, fh)
    for read in (
        lambda: read_stats(path),
        lambda: bm25_topk_indexed(spark, path, ("alpha",), 10, 1.2, 0.75),
    ):
        with pytest.raises(ValueError, match=re.escape(path) + ".*rebuild"):
            read()

    pos = str(tmp_path / "pos")
    build_positional_index(docs, pos, n_buckets=4)
    with pytest.raises(ValueError, match=re.escape(pos) + ".*rebuild"):
        read_stats(pos)


def test_posting_stats_fallback_matches_postings_with_duplicate_doc_id(
    spark, tmp_path, monkeypatch
):
    """The stats Observation counts INPUT rows, so it is exact only
    for one row per doc_id (the precondition stated at its call
    sites). The listing fallback, taken when the observation does not
    fire, derives (n, sum_dl) per distinct doc_id from the written
    postings: with a duplicated doc_id it still equals them, on build
    and on update."""
    import agrobr_spark.store.posting as P

    monkeypatch.setattr(P, "observed", lambda obs: None)
    schema = "doc_id bigint, text string"

    def assert_stats_match_postings(n, sum_dl):
        written = (
            P._postings_frame(spark, path).select("doc_id", "dl").distinct()
        )
        dls = [r["dl"] for r in written.collect()]
        st = P.read_stats(path)
        assert (st["n"], st["sum_dl"]) == (len(dls), sum(dls)) == (n, sum_dl)

    path = str(tmp_path / "idx")
    P.build_posting_index(
        spark.createDataFrame(
            [(1, "alpha beta"), (1, "alpha beta"), (2, "gamma delta eps")],
            schema,
        ),
        path,
        n_buckets=4,
    )
    assert_stats_match_postings(2, 5)
    P.update_posting_index(
        spark.createDataFrame([(7, "zeta"), (7, "zeta")], schema),
        path,
        batch_id=0,
    )
    assert_stats_match_postings(3, 6)


def test_compaction_preserves_epoch_committed_during_rewrite(
    spark, tmp_path, monkeypatch
):
    """r10 review finding: an ingest epoch that commits WHILE
    compaction is rewriting must survive the generation swap — both
    its documents and its replay-guard entry. Simulated by injecting a
    real update just before compaction's locked pointer swap (after
    the rewrite, i.e. after ``folded`` was computed from the stale
    entry snapshot)."""
    from agrobr_spark.store import posting as P

    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "idx")
    P.build_posting_index(corpus, path, n_buckets=8)
    P.update_posting_index(
        spark.createDataFrame([(3, "delta")], "doc_id bigint, text string"),
        path,
        batch_id=0,
    )
    late = spark.createDataFrame(
        [(4, "epsilon zeta")], "doc_id bigint, text string"
    )

    import agrobr_spark.store.fs as fs

    orig_lju = fs.locked_json_update
    state = {"fired": False, "busy": False}

    def lju(p, mut):
        # the first locked update in this scope is compaction's
        # pointer swap — inject the late epoch BEFORE it takes the
        # lock (the injected update's own commit recurses here, hence
        # the busy guard)
        if not state["busy"] and not state["fired"]:
            state["fired"] = True
            state["busy"] = True
            P.update_posting_index(late, path, batch_id=42)
            state["busy"] = False
        return orig_lju(p, mut)

    monkeypatch.setattr(fs, "locked_json_update", lju)
    P.compact_posting_index(spark, path)
    monkeypatch.setattr(fs, "locked_json_update", orig_lju)

    man = P.read_manifest(path)
    assert man["version"] == 1
    assert man["active_batches"] == [42]  # the late epoch survived
    assert 42 in man["applied_batch_ids"] and 0 in man["applied_batch_ids"]
    stats = P.read_stats(path)
    assert stats["n"] == 4  # 2 corpus + batch 0 + the late epoch
    docs_seen = {
        r["doc_id"] for r in P._postings_frame(spark, path).collect()
    }
    assert docs_seen == {1, 2, 3, 4}
    # the late epoch's replay guard still works post-compaction
    P.update_posting_index(late, path, batch_id=42)
    assert P.read_stats(path)["n"] == 4


def test_update_commit_straddling_compaction_survives(
    spark, tmp_path, monkeypatch
):
    """r10 ADVICE (the other direction of the rewrite race): an
    update that READS the manifest before a compaction's pointer swap
    and COMMITS after it must not write its stale entry snapshot back
    — that would resurrect the deleted generation's postings_dir and
    brick the index. The commit's re-read-and-merge
    (store/fs.commit_epoch) lands only the epoch's own delta in the NEW
    generation's manifest. Simulated by running a real compaction just
    before the update's commit step."""
    from agrobr_spark.store import posting as P

    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "idx")
    P.build_posting_index(corpus, path, n_buckets=8)
    P.update_posting_index(
        spark.createDataFrame([(3, "delta")], "doc_id bigint, text string"),
        path,
        batch_id=0,
    )
    late = spark.createDataFrame(
        [(4, "epsilon zeta")], "doc_id bigint, text string"
    )

    import agrobr_spark.store.fs as fs

    orig_lju = fs.locked_json_update
    fired = {"done": False}

    def commit_after_swap(p, mut):
        # the first locked update in this scope is the update's commit
        if not fired["done"]:
            fired["done"] = True
            P.compact_posting_index(spark, path)  # swap happens first
        return orig_lju(p, mut)

    monkeypatch.setattr(fs, "locked_json_update", commit_after_swap)
    P.update_posting_index(late, path, batch_id=7)
    monkeypatch.setattr(fs, "locked_json_update", orig_lju)

    man = P.read_manifest(path)
    assert man["version"] == 1
    assert man["postings_dir"] == "postings_v1"  # NOT resurrected
    assert man["active_batches"] == [7]
    assert 7 in man["applied_batch_ids"] and 0 in man["applied_batch_ids"]
    docs_seen = {
        r["doc_id"] for r in P._postings_frame(spark, path).collect()
    }
    assert docs_seen == {1, 2, 3, 4}
    assert P.read_stats(path)["n"] == 4
    # replay stays a no-op, and the NEXT compaction folds the epoch
    P.update_posting_index(late, path, batch_id=7)
    assert P.read_stats(path)["n"] == 4
    P.compact_posting_index(spark, path)
    man2 = P.read_manifest(path)
    assert man2["version"] == 2 and man2["active_batches"] == []
    assert {
        r["doc_id"] for r in P._postings_frame(spark, path).collect()
    } == {1, 2, 3, 4}


def test_locked_json_update_serializes_interleaved_committers(tmp_path):
    """r11 VERDICT next #3: the manifest read-modify-writes were
    individually atomic but UNSERIALIZED — two overlapping committers
    could each read the same snapshot and the second replace would
    drop the first's delta. locked_json_update must force the second
    committer to wait and re-read: FORCED ordering — committer A is
    held open inside the critical section (Event) while B and a
    compaction-style swap both arrive; every delta must survive."""
    import threading

    from agrobr_spark.store.fs import commit_json, locked_json_update, read_json

    path = str(tmp_path / "manifest.json")
    commit_json(path, {"active": [], "version": 0})

    a_inside = threading.Event()
    a_release = threading.Event()

    def slow_append(cur):
        a_inside.set()
        assert a_release.wait(timeout=30)
        cur["active"] = cur["active"] + ["A"]
        return cur

    def committer_a():
        locked_json_update(path, slow_append)

    results = []

    def committer_b():
        a_inside.wait(timeout=30)
        locked_json_update(
            path, lambda cur: dict(cur, active=cur["active"] + ["B"])
        )
        results.append("B-done")

    def swapper():
        a_inside.wait(timeout=30)
        locked_json_update(
            path, lambda cur: dict(cur, version=cur["version"] + 1)
        )
        results.append("swap-done")

    ta = threading.Thread(target=committer_a)
    tb = threading.Thread(target=committer_b)
    tc = threading.Thread(target=swapper)
    ta.start()
    assert a_inside.wait(timeout=30)
    tb.start()
    tc.start()
    # B and the swap are BLOCKED while A holds the lock: nothing has
    # committed on top of the initial manifest yet
    import time

    time.sleep(0.3)
    assert results == []
    assert read_json(path) == {"active": [], "version": 0}
    a_release.set()
    for t in (ta, tb, tc):
        t.join(timeout=30)
        assert not t.is_alive()
    final = read_json(path)
    # all three deltas landed — the unserialized primitive dropped
    # one of these whenever two writers overlapped
    assert sorted(final["active"]) == ["A", "B"]
    assert final["version"] == 1


def test_locked_json_update_crash_safety_and_timeout(
    tmp_path, monkeypatch
):
    """Crash-safety of the lock itself: flock(2) is released by the
    KERNEL when its holder dies (fd closed), so a committer that
    crashed inside the window can never wedge the store — a leftover
    lockfile with no flock on it does not block at all. A lock HELD
    by a live holder is honored until the loud timeout."""
    import fcntl
    import os
    import subprocess
    import sys

    import pytest

    from agrobr_spark.store import fs as fs_mod
    from agrobr_spark.store.fs import commit_json, locked_json_update, read_json

    path = str(tmp_path / "m.json")
    commit_json(path, {"v": 0})

    # 'crashed holder': a child process takes the flock and DIES
    # holding it — the kernel releases it with the fd, so the next
    # committer proceeds immediately
    child = subprocess.run(
        [
            sys.executable,
            "-c",
            (
                "import fcntl, os, sys\n"
                f"fd = os.open({path + '.lock'!r}, os.O_CREAT | os.O_RDWR)\n"
                "fcntl.flock(fd, fcntl.LOCK_EX)\n"
                "os._exit(0)  # dies holding the lock, no unlock\n"
            ),
        ]
    )
    assert child.returncode == 0
    assert os.path.exists(path + ".lock")  # lockfile left behind
    locked_json_update(path, lambda cur: dict(cur, v=cur["v"] + 1))
    assert read_json(path) == {"v": 1}

    # live holder: flock held on another fd — must block, then raise
    # the loud timeout (never break a live holder's lock)
    monkeypatch.setattr(fs_mod, "LOCK_TIMEOUT_S", 0.2)
    fd = os.open(path + ".lock", os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    try:
        with pytest.raises(TimeoutError, match="held beyond"):
            locked_json_update(path, lambda cur: cur)
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)
    # released: the same update now lands
    locked_json_update(path, lambda cur: dict(cur, v=cur["v"] + 1))
    assert read_json(path) == {"v": 2}


def test_manifest_primitives_reject_remote_schemes(tmp_path):
    """r10 ADVICE: the local-posix manifest primitives must FAIL
    LOUDLY on an object-store path — a silent open() would write
    driver-local state while the data lands remotely. file: URIs
    normalize; s3a/hdfs raise."""
    import pytest

    from agrobr_spark.store.fs import (
        commit_json,
        read_json,
        require_local_path,
    )

    p = str(tmp_path / "m.json")
    commit_json(f"file://{p}", {"v": 1})
    assert read_json(p) == {"v": 1}
    assert require_local_path(p) == p
    for bad in (f"s3a://bucket/idx", f"hdfs://nn/idx"):
        with pytest.raises(ValueError, match="conditional put"):
            require_local_path(bad)
    with pytest.raises(ValueError):
        commit_json("s3a://bucket/m.json", {})


def test_manifest_guard_hadoop_single_slash_forms(tmp_path):
    """r11 review: Hadoop's Path.toString() emits the SINGLE-slash
    scheme form (file:/tmp/x, hdfs:/nn/x) which the `://`-only guard
    let through as a literal relative path — a present manifest then
    read back as a silent None. All scheme-qualified spellings must
    either normalize to the same local path or raise; an authority
    that names another host must never normalize."""
    import pytest

    from agrobr_spark.store.fs import (
        commit_json,
        read_json,
        require_local_path,
    )

    p = str(tmp_path / "m.json")
    commit_json(p, {"v": 7})
    # Hadoop single-slash and rfc8089 forms all reach the SAME file
    assert require_local_path(f"file:{p}") == p
    assert require_local_path(f"file://{p}") == p
    assert require_local_path(f"file://localhost{p}") == p
    assert read_json(f"file:{p}") == {"v": 7}
    # single-slash remote schemes raise like their :// spellings
    with pytest.raises(ValueError, match="conditional put"):
        require_local_path("hdfs:/nn/idx/m.json")
    # a remote authority must not silently become /host/path
    with pytest.raises(ValueError, match="authority"):
        require_local_path("file://otherhost/tmp/m.json")
    with pytest.raises(ValueError, match="relative"):
        require_local_path("file:relative/m.json")
    # r11 ADVICE follow-ups: scheme matching is case-insensitive
    # (RFC 3986 — FILE: is the local scheme, S3A: is still remote)...
    assert require_local_path(f"FILE:{p}") == p
    with pytest.raises(ValueError, match="conditional put"):
        require_local_path("S3A://bucket/idx/m.json")
    # ...and the degenerate no-path authority forms must not hand the
    # commit primitives the filesystem ROOT
    for degenerate in ("file://", "file://localhost"):
        with pytest.raises(ValueError, match="no path component"):
            require_local_path(degenerate)


def test_posting_compaction_deferred_vacuum_reader_survives(
    spark, tmp_path
):
    """r12 VERDICT next #5: compaction must not yank superseded
    directories from under an in-flight reader. Superseded dirs are
    now RECORDED in the manifest's ``garbage`` list at the pointer
    swap and deleted only by the NEXT compaction — a reader whose
    plan listed the pre-swap generation collects cleanly across one
    full compaction, and the second compaction vacuums the first's
    garbage."""
    import os

    from agrobr_spark.store.posting import (
        build_posting_index,
        compact_posting_index,
        query_postings,
        read_manifest,
        update_posting_index,
    )

    docs = [
        (i, f"alpha term{i % 7} beta term{i % 5} gamma") for i in range(30)
    ]
    path = str(tmp_path / "idx")
    build_posting_index(
        spark.createDataFrame(docs[:20], "doc_id bigint, text string"),
        path,
        n_buckets=8,
    )
    update_posting_index(
        spark.createDataFrame(docs[20:], "doc_id bigint, text string"),
        path,
        batch_id=0,
    )
    terms = ("alpha", "term3", "gamma")
    # the in-flight reader: plan + file listing happen NOW, against
    # the pre-compaction generation (a posting read, not the BM25
    # answer, which pins its rows eagerly)
    reader = query_postings(spark, path, terms)
    expected = sorted(tuple(r) for r in reader.collect())

    compact_posting_index(spark, path)
    man = read_manifest(path)
    # superseded dirs recorded, NOT deleted: the reader's files live on
    assert sorted(man["garbage"]) == sorted(
        ["postings", "batches/b00000001099511627776"]
    )
    for d in man["garbage"]:
        assert os.path.exists(os.path.join(path, d)), d
    assert sorted(tuple(r) for r in reader.collect()) == expected  # survives

    # the NEXT compaction vacuums the previous generation's garbage
    compact_posting_index(spark, path)
    man2 = read_manifest(path)
    for d in man["garbage"]:
        assert not os.path.exists(os.path.join(path, d)), d
    assert man2["garbage"] == ["postings_v1"]


def test_posting_commit_raises_on_missing_manifest(
    spark, tmp_path, monkeypatch
):
    """r12 ADVICE #2: a commit-time read-modify-write against a
    MISSING manifest must fail loudly, not fabricate a fresh
    version-0 manifest that masks a broken/mislocated store. Only
    build_posting_index creates manifests. The manifest vanishes
    between an epoch's stage and its commit, for a rows-bearing local
    epoch and for an empty guarded one."""
    import os

    import pytest

    import agrobr_spark.store.fs as fs
    from agrobr_spark.store.posting import (
        build_posting_index,
        update_posting_index,
    )

    path = str(tmp_path / "idx")
    build_posting_index(
        spark.createDataFrame(
            [(1, "alpha beta")], "doc_id bigint, text string"
        ),
        path,
        n_buckets=2,
    )
    manifest = os.path.join(path, "manifest.json")
    with open(manifest, encoding="utf-8") as fh:
        saved = fh.read()
    real = fs.locked_json_update

    def lost_before_commit(p, mutate):
        os.remove(p)
        return real(p, mutate)

    monkeypatch.setattr(fs, "locked_json_update", lost_before_commit)
    with pytest.raises(FileNotFoundError, match="manifest missing"):
        update_posting_index(
            spark.createDataFrame(
                [(2, "alpha gamma")], "doc_id bigint, text string"
            ),
            path,
        )
    with open(manifest, "w", encoding="utf-8") as fh:
        fh.write(saved)
    with pytest.raises(FileNotFoundError, match="manifest missing"):
        update_posting_index(
            spark.createDataFrame([], "doc_id bigint, text string"),
            path,
            batch_id=3,
        )
    assert not os.path.exists(manifest)

def test_posting_local_ids_never_reused_after_compaction(spark, tmp_path):
    """The deferred vacuum makes local-id reuse FATAL (a reused id's
    directory sits in the garbage list awaiting deletion), so the
    manifest carries a ``local_low`` watermark: local epoch ids keep
    counting down across compactions even though compaction empties
    ``active_batches``."""
    from agrobr_spark.store.posting import (
        bm25_topk_indexed,
        build_posting_index,
        compact_posting_index,
        read_manifest,
        update_posting_index,
    )

    docs = [(i, f"alpha term{i % 7} beta") for i in range(30)]
    path = str(tmp_path / "idx")
    build_posting_index(
        spark.createDataFrame(docs[:10], "doc_id bigint, text string"),
        path,
        n_buckets=4,
    )
    # two LOCAL (un-idd) updates -> ids -1, -2
    update_posting_index(
        spark.createDataFrame(docs[10:15], "doc_id bigint, text string"),
        path,
    )
    update_posting_index(
        spark.createDataFrame(docs[15:20], "doc_id bigint, text string"),
        path,
    )
    assert read_manifest(path)["local_low"] == -2
    compact_posting_index(spark, path)
    man = read_manifest(path)
    assert man["active_batches"] == []
    assert man["local_low"] == -2  # watermark survives the fold
    # next local update must take -3, whose dir is NOT in the garbage
    update_posting_index(
        spark.createDataFrame(docs[20:25], "doc_id bigint, text string"),
        path,
    )
    man = read_manifest(path)
    assert man["active_batches"] == [-3]
    assert man["local_low"] == -3
    # and the second compaction (which vacuums gen-1 garbage) still
    # serves every document
    compact_posting_index(spark, path)
    got = bm25_topk_indexed(spark, path, ("alpha",), 30, 1.2, 0.75)
    assert got.count() == 25


def test_posting_update_rejects_explicit_negative_batch_id(
    spark, tmp_path
):
    """r13 review: an explicit negative batch_id would bypass the
    local_low watermark (the guarded commit branch never advances
    it), letting a post-compaction local ingest re-draw a folded id
    whose directory the deferred vacuum still names — so it is
    rejected loudly at both update entry points."""
    from agrobr_spark.store.posting import (
        build_posting_index,
        build_positional_index,
        update_positional_index,
        update_posting_index,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta")], "doc_id bigint, text string"
    )
    more = spark.createDataFrame(
        [(2, "alpha gamma")], "doc_id bigint, text string"
    )
    path = str(tmp_path / "idx")
    build_posting_index(docs, path, n_buckets=4)
    with pytest.raises(ValueError, match="must be >= 0"):
        update_posting_index(more, path, batch_id=-1)
    ppath = str(tmp_path / "pidx")
    build_positional_index(docs, ppath, n_buckets=4)
    with pytest.raises(ValueError, match="must be >= 0"):
        update_positional_index(more, ppath, batch_id=-1)


def test_staged_swap_reader_skips_busy_lock(spark, tmp_path):
    """r13 review: a reader finding the swap lock HELD must skip
    recovery instead of blocking — a busy lock always means a LIVE
    process is mid-swap (a crashed holder's flock is kernel-released
    with its fd), so there is no crash to repair and waiting up to
    the timeout would stall every read behind an O(table-files)
    delete."""
    import fcntl
    import os
    import time

    from agrobr_spark.store.table import ParquetStore

    path = str(tmp_path / "t_busy")
    store = ParquetStore(spark, path, primary_key=("k",))
    store.overwrite(spark.createDataFrame([(1,)], "k int"))
    staged = store._staged_dir()
    spark.createDataFrame([(9,)], "k int").write.parquet(staged)

    # a live holder (this test) takes the swap lock
    fd = os.open(staged + ".lock", os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    try:
        t0 = time.monotonic()
        got = [r[0] for r in store.read().collect()]
        assert time.monotonic() - t0 < 10  # skipped, not timed out
        assert got == [1]  # served MAIN; committed stage left alone
        assert os.path.exists(staged)
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)
    # lock free again: the next read rolls the stage forward
    assert [r[0] for r in store.read().collect()] == [9]
    assert not os.path.exists(staged)


def test_parquet_store_reader_survives_concurrent_merge(spark, tmp_path):
    """r12 VERDICT next #5, table side: a reader that planned its
    scan before a merge must not CRASH when the merge rewrites (or
    empties + deletes) partitions under it — ParquetStore.read() sets
    ignoreMissingFiles, so the race degrades to a best-effort
    snapshot instead of a mid-job FileNotFoundException."""
    from agrobr_spark.store.table import ParquetStore

    store = ParquetStore(
        spark, str(tmp_path / "t"), primary_key=("k",), partition_col="p"
    )
    store.merge_upsert(
        spark.createDataFrame(
            [(1, 10, 0), (2, 20, 1)], "k int, comp int, p int"
        )
    )
    # the in-flight reader: listing happens at plan time, now
    reader = store.read()
    # the merge MOVES k=1 out of p=0 (emptying it -> directory
    # deleted) and rewrites p=1's files
    store.merge_upsert(
        spark.createDataFrame([(1, 11, 1)], "k int, comp int, p int"),
        extra_partitions=[0],
    )
    got = sorted((r["k"], r["comp"]) for r in reader.collect())
    # no crash; best-effort snapshot (p=0's files are gone, p=1 was
    # rewritten in place so its listing may see old or new files)
    for row in got:
        assert row in [(1, 10), (1, 11), (2, 20)]
    # a FRESH read sees the merged state exactly
    assert sorted(
        (r["k"], r["comp"]) for r in store.read().collect()
    ) == [(1, 11), (2, 20)]
