"""One crash matrix for the persisted stores' two commit protocols,
``store/fs.resolve_stage`` (a staged directory's ``_SUCCESS`` redo
record) and ``store/fs.commit_epoch`` (an exactly-once epoch in a JSON
manifest), plus the guard that keeps both protocols in ``store/fs.py``.

Each row kills a writer at one step of one store's commit: a seam
raises ``Killed``, a ``BaseException`` that no protocol code catches,
so the files left behind are the ones a killed process leaves. The row
checks what that state looks like, re-opens the store, replays the
operation, and asserts the store reads back equal to a one-shot run:
its frames both ways under ``exceptAll``, its driver-side values
(the posting index's manifest stats) by ``==``."""

from __future__ import annotations

import ast
import datetime as dt
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import pytest

import agrobr_spark.store.fs as fs
from tests.test_concurrency import PACKAGE


class Killed(BaseException):
    """The writer process died here."""


def kill_before(monkeypatch, owner, name, when=lambda *a, **k: True):
    real = getattr(owner, name)

    def seam(*args, **kwargs):
        if when(*args, **kwargs):
            raise Killed(name)
        return real(*args, **kwargs)

    monkeypatch.setattr(owner, name, seam)


def kill_after(monkeypatch, owner, name, when=lambda *a, **k: True):
    real = getattr(owner, name)

    def seam(*args, **kwargs):
        out = real(*args, **kwargs)
        if when(*args, **kwargs):
            raise Killed(name)
        return out

    monkeypatch.setattr(owner, name, seam)


def tear_write(monkeypatch, owner, name, suffix):
    """The directory write ``owner.name`` to a path ending in
    ``suffix`` dies after its data files, before the committer's
    ``_SUCCESS`` marker."""
    real = getattr(owner, name)

    def seam(df, path, *args, **kwargs):
        out = real(df, path, *args, **kwargs)
        if path.endswith(suffix):
            os.remove(os.path.join(path, "_SUCCESS"))
            raise Killed(name)
        return out

    monkeypatch.setattr(owner, name, seam)


def _same(got, want):
    assert got.exceptAll(want).unionAll(want.exceptAll(got)).isEmpty()


# ---- the stores: setup, the operation, its replay, what it reads as --


class Rewrite:
    """``ParquetStore.rewrite``: the staged swap."""

    replays = 1
    keys_after = [3]

    def setup(self, spark, root):
        from agrobr_spark.store.table import ParquetStore

        self.spark, self.path = spark, f"{root}/t"
        ParquetStore(spark, self.path, ("k",)).overwrite(
            spark.createDataFrame([(1,), (2,)], "k int")
        )
        self.staged = self.store()._staged_dir()

    def store(self):
        from agrobr_spark.store.table import ParquetStore

        return ParquetStore(self.spark, self.path, ("k",))

    def run(self):
        self.store().rewrite(self.spark.createDataFrame([(3,)], "k int"))

    def state(self):
        return [self.store().read()]

    def keys(self):
        return sorted(r[0] for r in self.store().read().collect())

    def final(self):
        assert self.keys() == self.keys_after
        assert not os.path.exists(self.staged)


class MergeNew(Rewrite):
    """``merge_upsert`` into a new store: one observed staged write."""

    keys_after = [1, 3]

    def setup(self, spark, root):
        self.spark, self.path = spark, f"{root}/t"
        self.staged = self.store()._staged_dir()

    def run(self):
        self.store().merge_upsert(
            self.spark.createDataFrame([(1,), (3,)], "k int")
        )


class MergeUnpartitioned(MergeNew):
    """``merge_upsert`` into an unpartitioned store: the merge result
    is staged and swapped in."""

    keys_after = [1, 2, 3]
    setup = Rewrite.setup


NOW = dt.datetime(2026, 1, 5, tzinfo=dt.timezone.utc)


class KVSet(Rewrite):
    """``KVCache.set``: a rewrite of the cache table."""

    def setup(self, spark, root):
        from agrobr_spark.store.kv_cache import KVCache

        self.spark, self.path = spark, f"{root}/kv"
        KVCache(spark, self.path).set("a", b"1", now=NOW)

    def run(self):
        from agrobr_spark.store.kv_cache import KVCache

        KVCache(self.spark, self.path).set("b", b"2", now=NOW)

    def store(self):
        from agrobr_spark.store.table import ParquetStore

        return ParquetStore(self.spark, self.path, ("key",))

    def final(self):
        from agrobr_spark.store.kv_cache import KVCache

        kv = KVCache(self.spark, self.path)
        assert kv.get("a", now=NOW) == b"1"
        assert kv.get("b", now=NOW) == b"2"


class PostingUpdate:
    """``update_posting_index`` with a streaming ``batch_id``."""

    replays = 2  # the second replay, after the commit, is a no-op

    def setup(self, spark, root):
        from agrobr_spark.store.posting import build_posting_index

        self.spark, self.path = spark, f"{root}/idx"
        build_posting_index(
            spark.createDataFrame(
                [(1, "alpha beta"), (2, "alpha gamma")],
                "doc_id bigint, text string",
            ),
            self.path,
            n_buckets=8,
        )

    def run(self):
        from agrobr_spark.store.posting import update_posting_index

        update_posting_index(
            self.spark.createDataFrame(
                [(3, "alpha alpha delta")], "doc_id bigint, text string"
            ),
            self.path,
            batch_id=7,
        )

    def manifest(self):
        from agrobr_spark.store.posting import read_manifest

        return read_manifest(self.path)

    def stats(self):
        from agrobr_spark.store.posting import read_stats

        return read_stats(self.path)

    def state(self):
        from agrobr_spark.store.posting import _postings_frame

        # the manifest stats are a dict: compared by ==, not exceptAll
        return [
            _postings_frame(self.spark, self.path).drop("bucket"),
            self.stats(),
        ]

    def final(self):
        from agrobr_spark.store.posting import _postings_frame

        s = self.stats()
        assert (s["n"], s["sum_dl"]) == (3, 7)
        assert sorted(
            (r["doc_id"], r["termo"], r["tf"])
            for r in _postings_frame(self.spark, self.path).collect()
        ) == [
            (1, "alpha", 1), (1, "beta", 1), (2, "alpha", 1),
            (2, "gamma", 1), (3, "alpha", 2), (3, "delta", 1),
        ]


class PostingCompaction(PostingUpdate):
    """``compact_posting_index``, the second one: its vacuum deletes
    the first one's superseded generation."""

    replays = 1

    def setup(self, spark, root):
        from agrobr_spark.store.posting import (
            build_posting_index,
            compact_posting_index,
            update_posting_index,
        )

        self.spark, self.path = spark, f"{root}/idx"
        docs = [(i, f"alpha term{i % 7} beta") for i in range(20)]
        build_posting_index(
            spark.createDataFrame(docs[:10], "doc_id bigint, text string"),
            self.path,
            n_buckets=4,
        )
        update_posting_index(
            spark.createDataFrame(docs[10:], "doc_id bigint, text string"),
            self.path,
            batch_id=0,
        )
        compact_posting_index(spark, self.path)
        self.garbage = self.manifest()["garbage"]
        assert self.garbage  # gen-1 debris awaiting the deferred vacuum

    def run(self):
        from agrobr_spark.store.posting import compact_posting_index

        compact_posting_index(self.spark, self.path)

    def final(self):
        from agrobr_spark.store.posting import bm25_topk_indexed

        got = bm25_topk_indexed(
            self.spark, self.path, ("alpha",), 30, 1.2, 0.75
        )
        assert got.count() == 20


class KnnLabels:
    """``update_graph_labels_frame``: the label-delta journal, then
    the two layout merges, then the journal's clear."""

    replays = 1
    want = {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: 5, 6: 5}

    def setup(self, spark, root, base):
        from agrobr_spark.operators.knn_store import _pending_delta_dir

        self.spark, self.store = spark, f"{root}/knn"
        shutil.copytree(base["store"], self.store)
        self.changed = spark.createDataFrame(
            [(v,) for v in base["changed"]], "vec_id long"
        )
        self.pending = _pending_delta_dir(self.store)

    def run(self):
        from agrobr_spark.operators.knn_store import update_graph_labels_frame

        update_graph_labels_frame(self.spark, self.changed, self.store)

    def primary(self):
        from agrobr_spark.operators.knn_store import _labels_store

        return _labels_store(self.spark, self.store).read()

    def secondary(self):
        from agrobr_spark.operators.knn_store import _comp_labels_store

        return _comp_labels_store(self.spark, self.store).read()

    def labels(self):
        return {r["vec_id"]: r["componente"] for r in self.primary().collect()}

    def consistent(self):
        """Does the secondary layout hold exactly the primary's rows?"""
        return sorted(
            (r["vec_id"], r["componente"], r["cbalde"])
            for r in self.secondary().collect()
        ) == sorted(
            (r["vec_id"], r["componente"], r["componente"] % 4)
            for r in self.primary().collect()
        )

    def committed_journal(self):
        return os.path.exists(os.path.join(self.pending, "_SUCCESS"))

    def state(self):
        return [self.primary(), self.secondary()]

    def final(self):
        assert self.labels() == self.want
        assert self.consistent()
        assert not os.path.exists(self.pending)


class VersionedState:
    """``streaming_ops._versioned_state``: one folded epoch."""

    replays = 2

    def setup(self, spark, root):
        import pyspark.sql.functions as F

        from agrobr_spark.queries.streaming_ops import _versioned_state

        def step(batch, prev):
            return (
                prev.unionByName(batch)
                .groupBy("k")
                .agg(F.sum("n").cast("bigint").alias("n"))
            )

        self.spark, self.dir = spark, f"{root}/state"
        self.handle, self.current = _versioned_state(
            spark, self.dir, "st", "k string, n bigint", step
        )
        self.handle(self.batch([("a", 1), ("b", 2)]), 0)

    def batch(self, rows):
        return self.spark.createDataFrame(rows, "k string, n bigint")

    def run(self):
        self.handle(self.batch([("a", 5), ("c", 1)]), 1)

    def manifest(self):
        return fs.read_json(f"{self.dir}/manifest.json")

    def state(self):
        return [self.current()]

    def final(self):
        assert sorted(tuple(r) for r in self.current().collect()) == [
            ("a", 6), ("b", 2), ("c", 1)
        ]
        assert self.manifest()["applied_batch_ids"] == [0, 1]


# ---- the rows: (store, step, seam, what the killed writer left) -----


@dataclass
class Row:
    store: type
    step: str
    seam: Callable
    left: Callable

    @property
    def id(self):
        return f"{self.store.__name__}-{self.step}"


def _rewrite_mid_stage(mp, s):
    import agrobr_spark.store.table as table

    tear_write(mp, table, "write_parquet", "._staged")


def _rewrite_mid_stage_left(s):
    # a reader serves main and leaves the torn stage alone: it cannot
    # tell crash debris from a live rewrite's stage
    assert s.keys() == [1, 2]
    assert os.path.isdir(s.staged)


def _swap(mp, s, kill=kill_before):
    from agrobr_spark.store.table import ParquetStore

    kill(mp, ParquetStore, "_swap_committed_stage")


def _committed_stage_left(s):
    # a plain open rolls the committed stage forward
    assert os.path.isdir(s.staged)
    s.final()


def _main_deleted(mp, s):
    kill_after(mp, fs, "delete_path", lambda sp, p: p == s.path)


def _main_deleted_left(s):
    assert not os.path.exists(s.path)
    assert s.store().exists()
    s.final()


def _before_commit(mp, s):
    kill_before(mp, fs, "locked_json_update")


def _after_commit(mp, s):
    kill_after(mp, fs, "locked_json_update")


def _posting_batch_left(s):
    # the staged batch directory exists but no reader sees it
    assert os.path.isdir(f"{s.path}/batches")
    assert s.manifest()["active_batches"] == []
    assert s.stats()["n"] == 2


def _posting_committed_left(s):
    assert 7 in s.manifest()["applied_batch_ids"]
    s.final()


def _mid_vacuum(mp, s):
    kill_after(
        mp, fs, "delete_path",
        lambda sp, p: p.startswith(s.path) and p[len(s.path) + 1:]
        in s.garbage,
    )


def _vacuum_left(s):
    # the vacuum ran, the manifest still names what it deleted
    man = s.manifest()
    assert sorted(man["garbage"]) == sorted(s.garbage)
    assert man["version"] == 1
    assert not os.path.exists(os.path.join(s.path, s.garbage[0]))


def _before_swap_left(s):
    _vacuum_left(s)
    for d in s.garbage:
        assert not os.path.exists(os.path.join(s.path, d)), d


def _after_swap_left(s):
    assert s.manifest()["version"] == 2
    s.final()


def _mid_journal(mp, s):
    import agrobr_spark.operators.knn_store as knn

    tear_write(mp, knn, "checkpoint_parquet", "labels_delta_pending")


def _mid_journal_left(s):
    assert os.path.isdir(s.pending) and not s.committed_journal()
    assert s.consistent()


def _journal_written(mp, s):
    import agrobr_spark.operators.knn_store as knn

    kill_after(mp, knn, "checkpoint_parquet")


def _journal_written_left(s):
    # the delta is durable; neither layout is touched yet
    assert s.committed_journal()
    assert s.consistent()


def _between_merges(mp, s):
    from agrobr_spark.store.table import ParquetStore

    kill_before(
        mp, ParquetStore, "merge_upsert",
        lambda self, *a, **k: self.path.endswith("labels_by_comp"),
    )


def _between_merges_left(s):
    # the primary merged, the secondary is stale: node 5 keeps its
    # old (comp 4, cbalde 0) row until the journal is re-applied
    assert s.labels() == s.want
    assert not s.consistent()
    assert s.committed_journal()


def _before_clear(mp, s):
    kill_before(
        mp, fs, "delete_path",
        lambda sp, p: p == s.pending and os.path.exists(p),
    )


def _before_clear_left(s):
    assert s.committed_journal()
    assert s.labels() == s.want and s.consistent()


def _state_written_left(s):
    assert s.manifest()["current"] == "st_s0"
    assert os.path.isdir(f"{s.dir}/st_s1")


def _state_committed_left(s):
    assert s.manifest()["current"] == "st_s1"
    s.final()


ROWS = [
    Row(Rewrite, "mid_stage", _rewrite_mid_stage, _rewrite_mid_stage_left),
    Row(Rewrite, "staged", _swap, _committed_stage_left),
    Row(Rewrite, "main_deleted", _main_deleted, _main_deleted_left),
    Row(Rewrite, "renamed", lambda mp, s: _swap(mp, s, kill_after),
        lambda s: s.final()),
    Row(MergeNew, "staged", _swap, _committed_stage_left),
    Row(MergeUnpartitioned, "staged", _swap, _committed_stage_left),
    Row(KVSet, "main_deleted", _main_deleted, _main_deleted_left),
    Row(PostingUpdate, "batch_written", _before_commit, _posting_batch_left),
    Row(PostingUpdate, "committed", _after_commit, _posting_committed_left),
    Row(PostingCompaction, "mid_vacuum", _mid_vacuum, _vacuum_left),
    Row(PostingCompaction, "before_swap", _before_commit, _before_swap_left),
    Row(PostingCompaction, "after_swap", _after_commit, _after_swap_left),
    Row(KnnLabels, "mid_journal", _mid_journal, _mid_journal_left),
    Row(KnnLabels, "journal_written", _journal_written,
        _journal_written_left),
    Row(KnnLabels, "between_merges", _between_merges, _between_merges_left),
    Row(KnnLabels, "before_clear", _before_clear, _before_clear_left),
    Row(VersionedState, "state_written", _before_commit, _state_written_left),
    Row(VersionedState, "committed", _after_commit, _state_committed_left),
]


@pytest.fixture(scope="module")
def knn_base(spark, tmp_path_factory):
    """One kNN store with its corpus labels and a folded edge batch,
    copied by every KnnLabels run. The geometry: batch vector 6 lands
    between the mutual pair (4, 5), splitting {4, 5} and merging
    {5, 6}, so node 5's relabel 4→5 MOVES its secondary row across
    cbalde partitions (0→1 at edge_buckets=4)."""
    from agrobr_spark.operators.knn_store import (
        build_graph_labels,
        build_knn_graph_index,
        update_knn_graph_frame,
    )

    def vec(*xs):
        return [float(x) for x in xs]

    corpus = spark.createDataFrame(
        [
            (0, vec(3, 0, 0, 0)),
            (1, vec(0, 3, 0, 0)),
            (2, vec(0, 0, 3, 0)),
            (3, vec(0, 0, 0, 3)),
            (4, vec(2, 1, 0, 0)),
            (5, vec(2, 1.1, 0, 0)),
        ],
        "vec_id long, embedding array<float>",
    )
    batch = spark.createDataFrame(
        [(6, vec(2, 1.05, 0, 0))], "vec_id long, embedding array<float>"
    )
    store = str(tmp_path_factory.mktemp("knn_base") / "knn")
    build_knn_graph_index(
        corpus, store, k=1, n_probe=2, n_centroids=4, edge_buckets=4
    )
    build_graph_labels(spark, store, corpus.select("vec_id"))
    staged = update_knn_graph_frame(spark, batch, store, k=1, n_probe=2)
    changed = staged.select("vec_id").unionByName(batch.select("vec_id"))
    return {"store": store, "changed": [r[0] for r in changed.collect()]}


@pytest.fixture(scope="module")
def one_shot(spark, tmp_path_factory, request):
    """Each store's state after an uncrashed run, computed once."""
    done = {}

    def get(cls):
        if cls not in done:
            s = _opened(cls, spark, tmp_path_factory.mktemp("one_shot"),
                        request)
            s.run()
            done[cls] = [
                f if isinstance(f, dict) else f.localCheckpoint()
                for f in s.state()
            ]
        return done[cls]

    return get


def _opened(cls, spark, root, request):
    s = cls()
    if cls is KnnLabels:
        s.setup(spark, root, request.getfixturevalue("knn_base"))
    else:
        s.setup(spark, root)
    return s


@pytest.mark.parametrize("row", ROWS, ids=lambda r: r.id)
def test_crash_replays_to_one_shot(spark, tmp_path, monkeypatch, request,
                                   one_shot, row):
    want = one_shot(row.store)
    s = _opened(row.store, spark, tmp_path, request)
    with monkeypatch.context() as mp:
        row.seam(mp, s)
        with pytest.raises(Killed):
            s.run()
    row.left(s)
    for _ in range(s.replays):
        s.run()
    s.final()
    for got, exp in zip(s.state(), want, strict=True):
        if isinstance(exp, dict):
            assert got == exp
        else:
            _same(got, exp)


# ---- the guard --------------------------------------------------------

#: ``sources/sinks.py`` keeps its own ``applied_batch_ids`` guard: its
#: shard manifest lives on the Hadoop FS, where the driver-local lock
#: and atomic replace under ``commit_epoch`` do not reach
_PROTOCOL_ALLOWED = {"store/fs.py", "sources/sinks.py"}


def _protocol_strings(src):
    """Lines of string constants naming a commit record: any string
    holding ``_SUCCESS`` and any use of ``"applied_batch_ids"`` but a
    dict-literal key (a manifest's initial layout). Docstrings are
    prose, not probes."""
    tree = ast.parse(src)
    skip = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Expr) and isinstance(node.value,
                                                     ast.Constant):
            skip.add(id(node.value))
        if isinstance(node, ast.Dict):
            skip.update(id(k) for k in node.keys if k is not None)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in skip
            and ("_SUCCESS" in node.value
                 or node.value == "applied_batch_ids")
        ):
            yield node.lineno


def test_commit_records_are_read_only_in_store_fs():
    """A ``_SUCCESS`` probe or an ``applied_batch_ids`` lookup outside
    ``store/fs.py`` is a second copy of a commit protocol."""
    offenders = []
    for f in sorted(PACKAGE.rglob("*.py")):
        rel = f.relative_to(PACKAGE).as_posix()
        if rel in _PROTOCOL_ALLOWED:
            continue
        for line in _protocol_strings(f.read_text(encoding="utf-8")):
            offenders.append(f"agrobr_spark/{rel}:{line}")
    assert not offenders, (
        "commit record read outside store/fs.resolve_stage / "
        "commit_epoch: " + ", ".join(offenders)
    )
