"""Term-bucketed BM25 posting index: build once, answer lexical
queries from |query| buckets without re-tokenizing the corpus.

This is the materialization the ``text_bm25_topk`` docstring promises
as the 100 TB knob, and the retrieval analog of the reference's
indexed cache scan (ref: agrobr/cache/duckdb_store.py:339-400 — query
cost independent of history size). Layout at ``path``:

- ``postings/`` — parquet, disk-partitioned by
  ``bucket = pmod(xxhash64(termo), n_buckets)``, rows
  ``(termo, doc_id, dl, tf)``: one row per (document, distinct term).
  A query for terms T computes T's buckets (folded on the driver, no
  job — the same xxhash64 the writer used, so Python never
  re-implements the hash) and reads ONLY those partitions: Catalyst
  partition-prunes on ``bucket IN (...)`` and pushes
  ``termo IN (...)`` into the pruned scan. Query cost is O(posting
  rows of the query's terms), flat in corpus size — the
  inverted-index property.
- ``manifest.json`` — ``n_buckets``, read back at query time so
  probe-side bucketing always matches the build;
  ``tokenizer_version``, which every read and update checks against
  ``TOKENIZER_VERSION`` (an index tokenized otherwise must be
  rebuilt); and the posting rows' ``postings_schema``. It also
  carries the index's
  COMMIT STATE: ``postings_dir`` (the current base generation),
  ``active_batches`` (streamed batches not yet compacted into the
  base), and ``applied_batch_ids`` (the exactly-once replay guard,
  never cleared). A BM25 index's manifest
  carries its corpus statistics too: ``n`` (document count) and
  ``sum_dl`` (summed document length) of the base generation, and
  ``batch_stats``, one ``{"n", "sum_dl"}`` delta per active batch.
  Both ride the postings write as an Observation, so a query's
  ``(n, avgdl)`` is a driver-side fold (:func:`read_stats`), never a
  read.
- ``batches/b<batch_id>/`` — one directory per streamed update epoch
  (its posting rows, bucket-partitioned like the base), visible only
  once the manifest lists it in ``active_batches``.

Every update epoch and every compaction commits through
``store/fs.commit_epoch`` (the exactly-once epoch protocol, described
there once): the batch directory is staged where no reader looks, then
listed in ``active_batches`` and its ``batch_id`` recorded in one
locked manifest replace.

``compact_posting_index`` is the maintenance op: per-epoch batch
directories accrete forever (at 100 TB the bucket file count becomes
the read bottleneck), so compaction folds base + active batches into
a NEW base generation (``postings_v<k>``, one file per bucket) and
their stats deltas into the base ``n``/``sum_dl``, commits the
manifest pointer atomically, then deletes the superseded
directories. Indexed query results are byte-identical pre/post
(pinned by tests/test_store.py::test_posting_index_compaction) and
the replay guard survives — an already-applied epoch stays a no-op
after compaction.

At 100 TB: the build is one tokenize + one (doc, term) aggregation —
the same work a single ``text_bm25_topk`` already does — amortized
over every subsequent query. ``n_buckets`` scales with corpus size
(buckets ≈ total posting bytes / target partition size); on a real
cluster the same frame can instead go through
``bucketBy(n, "termo").saveAsTable`` for metastore-managed buckets,
but disk partitioning keeps the index a plain portable parquet
directory here.

``term_rows`` is the one lowered term-row explode (over the one
tokenizer, ``normalize/expressions.tokens``), ``bm25_score`` the one
BM25 scorer and ``phrase_vote`` the one phrase matcher. The index
builds and the scan twins in ``queries/pipeline_text.py`` tokenize
``documents`` through the same helpers; the indexed twins feed the
scorers ``query_postings`` rows. Both BM25 twins pin their
query-term rows once (:func:`pin_term_rows`, df riding the pin job)
and score off the pin with the corpus statistics as driver scalars. Each pair
shares one DuckDB oracle string, so indexed ≡ scan is the same code
over a different row source, and oracle-checked.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import types as T

from agrobr_spark.io import observed, pin, read_parquet, write_parquet
from agrobr_spark.normalize.expressions import TOKENIZER_VERSION, tokens

DEFAULT_BUCKETS = 64


def term_rows(docs: DataFrame, *keep: str, text_col: str = "text",
              dl: bool = False,
              obs: Observation | None = None) -> DataFrame:
    """THE lowered term-row explode: ``(*keep, [dl,] termo)``, one
    lower-cased row per :func:`~agrobr_spark.normalize.expressions.tokens`
    entry of each non-blank document, ``dl`` (with ``dl=True``) its
    document's token count. Every per-token term stream in the package
    (posting rows, the BM25 scan twin, DF tables, TF-IDF, the
    heavy-hitter, DSIR and divergence streams) starts here.

    ``obs``: an Observation attached at the ONE-ROW-PER-DOC point of
    the plan (after the blank-text filter, before the explode),
    collecting ``n`` (document count) and ``sum_dl`` (summed token
    counts), so the corpus statistics ride whatever job consumes the
    rows instead of a second pass. Exact when the rows of ``docs``
    are one per document."""
    pre = docs.filter(F.length(F.trim(text_col)) > 0).select(
        *keep, tokens(text_col).alias("_t")
    )
    if obs is not None:
        pre = pre.observe(
            obs,
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.size("_t")).cast("bigint").alias("sum_dl"),
        )
    return pre.select(
        *keep, F.size("_t").alias("dl"), F.explode("_t").alias("_tok")
    ).select(*keep, *(["dl"] if dl else []), F.lower("_tok").alias("termo"))


def term_tf(rows: DataFrame, *keys: str) -> DataFrame:
    """``(*keys, termo, tf)``: the term frequency of each distinct
    ``(*keys, termo)`` of :func:`term_rows` rows."""
    return rows.groupBy(*keys, "termo").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )


def tokenize_postings(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      stats_obs: Observation | None = None) -> DataFrame:
    """Whitespace-lowered posting rows ``(doc_id, dl, termo, tf)`` —
    the BM25 index's tokenizer: :func:`term_rows` aggregated by
    :func:`term_tf` over every term. The scan path
    (``queries/pipeline_text.bm25_scores``) shares both helpers, so
    indexed ≡ scan holds byte for byte, but filters its term rows to
    the query terms BEFORE the tf aggregation. A prototype that routed
    the scan through this full aggregate kept the oracle green and
    raised ``text_bm25_rm3`` from 21 to 24 warm Spark jobs (sf0.01,
    local[3]).

    ``stats_obs``: :func:`term_rows`' ``obs`` — the manifest's corpus
    stats ride the postings write job itself."""
    return term_tf(
        term_rows(docs, id_col, text_col=text_col, dl=True, obs=stats_obs),
        id_col, "dl",
    )


def _written_dir_stats(spark: SparkSession, postings_dir: str) -> dict:
    """Fallback when the observation did not fire: emptiness from the
    directory listing, ``{"n": 0 | 1}`` — all the empty-epoch decision
    needs. The BM25 manifest stats re-derive their (n, sum_dl) from
    the written rows (:func:`_bm25_stats`)."""
    from agrobr_spark.store.fs import hadoop_fs

    fs, hdir = hadoop_fs(spark, postings_dir)
    return {"n": int(any(
        s.getPath().getName().startswith("bucket=")
        for s in fs.listStatus(hdir)
    ))}


def _bm25_stats(spark: SparkSession, postings_dir: str, id_col: str,
                got: dict) -> dict:
    """The BM25 manifest's corpus stats ``{"n", "sum_dl"}`` for one
    postings write, from the DRIVER-held observation values ``got``:
    no job. ``sum_dl`` is None when n == 0 (SUM over zero rows, as the
    corpus aggregate gives). When the observation did not fire but
    rows were written (``got`` carries no ``sum_dl``), both are
    re-derived per distinct id from the written postings: one
    aggregate job, exact even when an id is duplicated."""
    if got["n"] and "sum_dl" not in got:
        got = (
            read_parquet(spark, postings_dir)
            .groupBy(id_col)
            .agg(F.first("dl").alias("dl"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl"))
            .first()
            .asDict()
        )
    sum_dl = got.get("sum_dl")
    return {"n": int(got["n"]),
            "sum_dl": None if sum_dl is None else int(sum_dl)}


def _write_postings(docs: DataFrame, postings_dir: str, n_buckets: int,
                    id_col: str, text_col: str,
                    tokenize) -> tuple[dict, dict]:
    """The one postings write behind both index kinds' build and
    update: ``tokenize(docs, id_col, text_col, obs)`` (the kind's
    tokenizer, ``obs`` attached at its one-row-per-doc point),
    bucket-partitioned at ``n_buckets``. ONE tokenizer execution (r13:
    the emptiness probe, the postings write and the stats write each
    re-ran it) and ZERO read-back jobs (r14): the doc count (and, for
    BM25, the summed dl) rides the write job as an Observation and
    lands in the manifest.
    Returns the observation's metrics, or the listing fallback's
    ``{"n": 0 | 1}`` when it did not fire, and the written rows'
    schema as JSON (the build records it, so a base of zero documents,
    which leaves no data file to infer a schema from, still reads).

    Precondition of the observation: ``docs`` holds ONE row per
    ``id_col``. It counts input rows, so a duplicated id would count
    twice in n and sum_dl while the tf aggregate folds it into one
    posting doc. Catalog corpora are keyed on doc_id."""
    obs = Observation()
    bucket = F.pmod(F.xxhash64(F.col("termo")), F.lit(int(n_buckets)))
    rows = tokenize(docs, id_col, text_col, obs).withColumn(
        "bucket", bucket.cast("int")
    )
    write_parquet(rows, postings_dir, ("bucket",))
    got = observed(obs) or _written_dir_stats(
        docs.sparkSession, postings_dir
    )
    return got, rows.schema.jsonValue()


def _build_index(docs: DataFrame, path: str, n_buckets: int, id_col: str,
                 text_col: str, kind: str, tokenize, stats) -> None:
    """The one build path: postings write, then the version-0
    manifest, carrying the kind's corpus stats (``stats``, None for
    positions, which carry no corpus aggregate)."""
    from agrobr_spark.store.fs import commit_json

    postings = f"{path}/postings"
    got, schema = _write_postings(
        docs, postings, n_buckets, id_col, text_col, tokenize
    )
    commit_json(f"{path}/manifest.json", {
        "n_buckets": int(n_buckets),
        "tokenizer_version": TOKENIZER_VERSION,
        "id_col": id_col,
        "kind": kind,
        "version": 0,
        "postings_dir": "postings",
        "postings_schema": schema,
        "active_batches": [],
        "applied_batch_ids": [],
        **(stats(docs.sparkSession, postings, id_col, got) if stats else {}),
    })


def _update_index(docs_new: DataFrame, path: str, id_col: str,
                  text_col: str, batch_id: int | None, tokenize,
                  stats) -> None:
    """The one staged-epoch update path, one ``store/fs.commit_epoch``
    epoch (protocol in :func:`update_posting_index`'s docstring): the
    stage writes ``batches/b<id>/`` at the manifest-frozen n_buckets;
    the publish lists the batch in ``active_batches`` and records the
    kind's stats delta (``stats``, None for positions) in
    ``batch_stats``."""
    from agrobr_spark.store.fs import commit_epoch, delete_path

    _require_valid_epoch_id(batch_id)
    spark = docs_new.sparkSession

    def stage(man: dict) -> tuple[int, dict | None] | None:
        _require_tokenizer(path, man)
        bid = (int(batch_id) if batch_id is not None
               else _next_local_batch(man))
        bdir = _batch_dir(path, bid)
        postings = f"{bdir}/postings"
        got, _ = _write_postings(
            docs_new, postings, int(man["n_buckets"]), id_col,
            text_col, tokenize,
        )
        if not got["n"]:
            # committing a rows-free directory would brick every later
            # read: drop it, and the epoch publishes only its guard
            delete_path(spark, bdir)
            return None
        return bid, stats(spark, postings, id_col, got) if stats else None

    def publish(cur: dict, staged: tuple[int, dict | None] | None) -> dict:
        # only THIS epoch's delta merges into the manifest as it
        # stands at commit time: a compaction may have swapped the
        # generation pointer while the batch staged, and its
        # uncommitted directory was invisible to that compaction, so
        # the next one folds it
        cur = _normalize_manifest(cur)
        if staged is not None:
            bid, delta = staged
            cur["active_batches"].append(bid)
            if delta is not None:
                cur["batch_stats"][str(bid)] = delta
            if bid < 0:
                # advance the local-id watermark so a post-compaction
                # ingest can never reuse a folded id
                cur["local_low"] = min(int(cur["local_low"]), bid)
        return cur

    commit_epoch(f"{path}/manifest.json", batch_id, stage, publish)


def build_posting_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Materialize the posting index for ``docs`` at ``path``.

    One corpus pass: tokenize → (doc, term) tf aggregation →
    partitioned write, with the corpus stats riding the SAME job as an
    Observation at the one-row-per-doc point of the plan (r14; the r13
    version re-read the written postings for a distinct-doc aggregate
    — one extra columnar scan per build). No collect of corpus-sized
    data — the driver-side artifacts are two scalars and the manifest
    dict."""
    _build_index(docs, path, n_buckets, id_col, text_col, "bm25",
                 tokenize_postings, _bm25_stats)


def update_posting_index(
    docs_new: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: int | None = None,
) -> None:
    """Incrementally fold a batch of NEW documents into an existing
    index — the retrieval-store analog of the admission pipelines'
    MERGE-back (and of the reference's incremental accumulate loop,
    ref: agrobr/cepea/api.py:119-187): the corpus is never
    re-tokenized; only the batch's posting rows are written, appended
    into their term buckets at the n_buckets FROZEN in the manifest
    (batch and corpus can never hash at different widths).

    Corpus stats fold exactly: the batch's ``batch_stats`` delta
    carries ``sum_dl`` alongside ``n``, so the updated ``avgdl`` is
    ``(sum_dl + sum_dl_batch) / (n + n_batch)`` — byte-identical to a
    full rebuild over corpus ∪ batch, which is what the parity test
    pins (build+update ≡ rebuild, query-result equality).

    Contract: ``docs_new`` holds ids not already indexed (the
    admission pipelines guarantee this — a doc is indexed at most
    once) and unique within the batch; re-appending an id would
    double-count its postings, the same append-only semantics as the
    survivor MERGE's staging input.

    Durability: one ``store/fs.commit_epoch`` epoch. The rows are
    OVERWRITE-written into ``batches/b<id>/`` and, with the stats
    delta, become visible only at the manifest commit, so a replayed
    ``batch_id`` (streaming foreachBatch) either no-ops or cleanly
    rewrites an uncommitted directory. Without ``batch_id`` (one-shot
    maintenance caller) a local epoch id is drawn below the streaming
    id space, same staged path. Nothing ever appends into a directory
    a reader may be mid-scan on.
    """
    _update_index(docs_new, path, id_col, text_col, batch_id,
                  tokenize_postings, _bm25_stats)


def _batch_rel(bid: int) -> str:
    # sign-folded zero-padded name: lexicographic listing == epoch order
    return f"batches/b{bid + (1 << 40):020d}"


def _batch_dir(path: str, bid: int) -> str:
    return f"{path}/{_batch_rel(bid)}"


def _require_valid_epoch_id(batch_id: int | None) -> None:
    """The negative id space belongs to LOCAL epochs
    (:func:`_next_local_batch` counts down from -1, fenced by the
    ``local_low`` watermark). An EXPLICIT negative id would bypass
    that watermark — only a local epoch's publish advances it —
    so after a compaction folds the batch, the next
    local ingest could re-draw the same id while the deferred
    vacuum's garbage list still names its directory: the vacuum would
    delete the live batch (r13 review). Streaming epoch ids are >= 0
    by construction; reject rather than special-case."""
    if batch_id is not None and int(batch_id) < 0:
        raise ValueError(
            f"explicit batch_id must be >= 0 (got {batch_id}); "
            "negative ids are reserved for internally-drawn local "
            "epochs"
        )


def _next_local_batch(man: dict) -> int:
    """Epoch id for a non-streaming update: counts DOWN from -1 so it
    can never collide with a foreachBatch epoch (those are >= 0).

    ``local_low`` is the lowest local id EVER committed (manifest
    watermark, r13): without it, a compaction that empties
    ``active_batches`` would let the next local ingest REUSE a folded
    id — fatal under the deferred vacuum, whose garbage list still
    names the reused id's directory (the vacuum would delete the live
    batch)."""
    locals_ = [b for b in man.get("active_batches", []) if b < 0]
    return min(int(man.get("local_low", 0)), min(locals_, default=0)) - 1


def _normalize_manifest(man: dict) -> dict:
    """Fill the commit-state defaults: pre-r10 manifests carry none
    and were built with the fixed layout."""
    man.setdefault("postings_dir", "postings")
    man.setdefault("active_batches", [])
    man.setdefault("batch_stats", {})
    man.setdefault("version", 0)
    # superseded dirs awaiting the DEFERRED vacuum (r13); relative to
    # the index root so the manifest stays relocatable
    man.setdefault("garbage", [])
    # lowest local (negative) batch id ever committed — reuse guard
    # for the deferred vacuum (see _next_local_batch)
    man.setdefault("local_low", 0)
    return man


def read_manifest(path: str) -> dict:
    # same loud local-posix scope as the write side (r10 ADVICE: a
    # remote index path must fail here, not silently read/write the
    # driver's local disk while the data lands remotely)
    from agrobr_spark.store.fs import read_json

    man = read_json(f"{path}/manifest.json")
    if man is None:
        raise FileNotFoundError(
            f"posting-index manifest missing under {path!r}"
        )
    _require_tokenizer(path, man)
    return _normalize_manifest(man)


def _require_tokenizer(path: str, man: dict) -> None:
    """Postings are only comparable with query terms tokenized the same
    way: an index whose manifest lacks ``tokenizer_version`` or records
    another one than :data:`TOKENIZER_VERSION` raises ``ValueError``
    naming ``path``: rebuild it."""
    got = man.get("tokenizer_version")
    if got != TOKENIZER_VERSION:
        raise ValueError(
            f"posting index at {path!r} records tokenizer_version {got!r}, "
            f"not {TOKENIZER_VERSION}: its terms came from another "
            "tokenizer — rebuild it with build_posting_index or "
            "build_positional_index"
        )


def _postings_frame(
    spark: SparkSession, path: str, man: dict | None = None
) -> DataFrame:
    """The index's full posting set: the base generation plus every
    COMMITTED batch directory (manifest-listed; an orphan directory
    from a crashed epoch is invisible). Each leg is its own
    bucket-partitioned parquet read, so ``bucket IN (...)`` partition
    pruning applies per leg — a query still touches only its terms'
    buckets in every generation. A BM25 base of zero documents
    (``n == 0``) holds no data file to read, so it is no leg; with no
    leg at all the set is an empty frame of the build's
    ``postings_schema``."""
    from functools import reduce

    man = man or read_manifest(path)
    legs = [f"{path}/{man['postings_dir']}"] if man.get("n") != 0 else []
    legs += [
        f"{_batch_dir(path, int(bid))}/postings"
        for bid in man["active_batches"]
    ]
    if not legs:
        return spark.createDataFrame(
            [], T.StructType.fromJson(man["postings_schema"])
        )
    return reduce(
        DataFrame.unionByName, [read_parquet(spark, leg) for leg in legs]
    )


def corpus_stats(n: int, sum_dl: int | None) -> dict:
    """``{"n", "sum_dl", "avgdl"}``: ``avgdl`` is ``sum_dl / n`` as
    two doubles, the division the DuckDB oracle makes; None for an
    empty corpus."""
    avgdl = float(sum_dl) / float(n) if n else None
    return {"n": int(n), "sum_dl": sum_dl, "avgdl": avgdl}


def read_stats(path: str, man: dict | None = None) -> dict:
    """The BM25 index's effective corpus stats ``{"n", "sum_dl",
    "avgdl"}``: the manifest's base ``n``/``sum_dl`` folded in Python
    with every active batch's ``batch_stats`` delta — no Spark job,
    never a corpus read. ``sum_dl`` sums like SQL ``SUM``: None only
    when every part is None (n == 0).

    Raises ``ValueError`` naming ``path`` when the manifest carries
    no stats (an index built by an older layout, which kept them in a
    parquet sidecar, or a positional index): rebuild it."""
    man = man or read_manifest(path)
    try:
        parts = [man] + [
            man["batch_stats"][str(int(b))] for b in man["active_batches"]
        ]
        n = sum(int(p["n"]) for p in parts)
        sums = [int(p["sum_dl"]) for p in parts if p["sum_dl"] is not None]
    except KeyError as e:
        raise ValueError(
            f"posting index at {path!r} has no BM25 corpus stats in its "
            f"manifest (missing {e}): it was built by an older layout or "
            "is not a BM25 index — rebuild it with build_posting_index"
        ) from None
    return corpus_stats(n, sum(sums) if sums else None)


def compact_posting_index(spark: SparkSession, path: str) -> int:
    """Fold base + committed batches into a new base generation —
    the index maintenance op (r9 VERDICT next #4).

    Streamed epochs leave one directory (and one manifest stats
    delta) each; at 100 TB an always-on ingest makes the per-bucket
    file count the read bottleneck. Compaction rewrites the full
    posting set as ``postings_v<k>`` with ONE file per bucket
    (``repartition("bucket")`` sends each bucket to exactly one task,
    so each partition directory gets one data file), folds the
    batches' ``batch_stats`` into the base ``n``/``sum_dl``, then
    atomically swaps the manifest pointer:

    - readers see the old generation or the new one, never a mix;
    - ``applied_batch_ids`` is preserved — a late replay of an
      already-compacted epoch is still a no-op;
    - superseded directories are deleted only after the commit;
    - the manifest is RE-READ just before the commit and merged, so
      an ingest epoch that committed while the rewrite ran survives
      (still listed in ``active_batches``; the next compaction folds
      it). The new base was built from the pre-compaction snapshot,
      so the surviving epoch's rows are not duplicated.

    Concurrency contract (narrowed, r10 ADVICE): ingest updates may
    now run CONCURRENTLY with a compaction in either direction —
    compaction's pre-commit re-read keeps an epoch that committed
    during the rewrite, and an update's commit-time merge
    (``store/fs.commit_epoch``'s publish) keeps an update that
    started before the pointer swap from resurrecting the old
    generation (its staged directory was never
    in the folded ``active_batches``, so the new base neither holds
    nor deletes it; the next compaction folds it). The ms-scale
    manifest read-modify-writes themselves are SERIALIZED by the
    manifest lock (``store/fs.locked_json_update`` — r12; previously
    an honor-system single-COMMITTER contract), so overlapping
    committers can no longer drop each other's deltas. Still
    required: one ingest writer at a time for LOCAL (non-streaming)
    epochs — their ids are drawn from the entry-time manifest
    snapshot, so two concurrent local ingests could stage the same
    directory — and one compaction at a time (two rewrites would
    race the same generation name). Superseded directories are NOT
    deleted at the pointer swap: they are recorded in the manifest's
    ``garbage`` list and vacuumed by the NEXT compaction (r12 VERDICT
    next #5), so a reader planned against the previous generation
    keeps its files through the swap it races — the reader-breaking
    window now needs a reader to straddle TWO full compactions.

    Returns the number of posting data files after compaction.
    Positional indexes (no corpus stats) compact the same way.
    """
    from agrobr_spark.store.fs import commit_epoch, delete_path

    def stage(man: dict) -> tuple[dict, set]:
        man = _normalize_manifest(man)
        # vacuum the PREVIOUS compaction's garbage FIRST, before this
        # generation is written or committed (r13 review): the old
        # post-commit ordering removed the list from the manifest and
        # only then deleted the dirs, so a crash between the two
        # leaked a full generation forever. Deleting up front is
        # crash-safe in every position: a crash mid-vacuum leaves the
        # manifest still naming the dirs (delete_path on a missing
        # path is a no-op, so the retry re-vacuums cleanly), and the
        # reader grace is unchanged — these dirs went stale at the
        # PREVIOUS pointer swap. Only compaction writes ``garbage``,
        # and the single-compactor contract above serializes it
        # against itself.
        for d in man["garbage"]:
            delete_path(spark, f"{path}/{d}")
        ver = int(man["version"]) + 1
        gen = {"version": ver, "postings_dir": f"postings_v{ver}"}
        if man.get("kind") != "positional":
            # before the rewrite: an old-layout index raises here
            st = read_stats(path, man)
            gen.update(n=st["n"], sum_dl=st["sum_dl"])
        write_parquet(
            _postings_frame(spark, path, man).repartition("bucket"),
            f"{path}/{gen['postings_dir']}",
            ("bucket",),
        )
        # this generation's superseded dirs are only RECORDED as
        # garbage; the NEXT compaction's vacuum deletes them, so an
        # in-flight reader planned against the pre-swap generation
        # keeps its files through the swap (deferred vacuum)
        gen["garbage"] = [man["postings_dir"]] + [
            _batch_rel(int(b)) for b in man["active_batches"]
        ]
        return gen, {int(b) for b in man["active_batches"]}

    def publish(cur: dict, staged: tuple[dict, set]) -> dict:
        # the manifest as it stands at commit time: an ingest epoch
        # may have committed while the rewrite ran, and building the
        # new manifest from the stale snapshot would erase it — both
        # its documents and its replay-guard entry (r10 review). Only
        # the batches this compaction FOLDED leave active_batches.
        gen, folded = staged
        cur = _normalize_manifest(cur)
        return dict(
            cur,
            active_batches=[
                b for b in cur["active_batches"] if int(b) not in folded
            ],
            batch_stats={
                b: d for b, d in cur["batch_stats"].items()
                if int(b) not in folded
            },
            **gen,
        )

    commit_epoch(f"{path}/manifest.json", None, stage, publish)
    return posting_file_count(spark, path)


def posting_file_count(spark: SparkSession, path: str) -> int:
    """Data-file count across the index's live posting directories —
    the compaction metric (before/after read-amplification proxy)."""
    from agrobr_spark.store.fs import hadoop_fs

    man = read_manifest(path)
    dirs = [f"{path}/{man['postings_dir']}"] + [
        f"{_batch_dir(path, int(b))}/postings"
        for b in man["active_batches"]
    ]
    n = 0
    for d in dirs:
        fs, hpath = hadoop_fs(spark, d)
        it = fs.listFiles(hpath, True)
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                n += 1
    return n


def query_postings(
    spark: SparkSession, path: str, terms: tuple[str, ...],
    man: dict | None = None,
) -> DataFrame:
    """Posting rows for ``terms`` read from only their buckets (of the
    generation ``man`` names; the current manifest by default).

    The term→bucket map is computed with the SAME xxhash64 the build
    used, by Spark itself (never a Python re-implementation of the
    hash) over a |terms|-row local relation, which the optimizer folds
    on the driver: the collect submits no job. The returned scan carries
    ``bucket IN (...)`` (partition pruning: untouched buckets are
    never listed or read) and ``termo IN (...)`` (pushed filter
    inside the pruned partitions)."""
    import pandas as pd

    man = man or read_manifest(path)
    nb = int(man["n_buckets"])
    # from pandas, not a list: a list becomes a parallelized RDD whose
    # collect is a job, a pandas frame a LocalRelation folded to zero
    tdf = spark.createDataFrame(
        pd.DataFrame({"termo": list(terms)}, dtype=object), "termo string"
    )
    bkts = sorted(
        {
            r["b"]
            for r in tdf.select(
                F.pmod(F.xxhash64("termo"), F.lit(nb)).cast("int").alias("b")
            ).collect()
        }
    )
    return (
        _postings_frame(spark, path, man)
        .filter(F.col("bucket").isin(bkts) & F.col("termo").isin(*terms))
        .drop("bucket")
    )


def pin_term_rows(
    rows: DataFrame, terms
) -> tuple[DataFrame, dict[str, int]]:
    """The one eager pin of a query's posting rows ``(id, dl, termo,
    tf)``, with each query term's document frequency riding the pin's
    own job: ``count_if(termo = t)`` per term, exact because the rows
    hold one row per (doc, term). Returns the pinned rows and
    ``{termo: df}``; a term absent from the corpus has df 0, read off
    the pin itself (:func:`agrobr_spark.io.pin`), never assumed."""
    names = dict(enumerate(dict.fromkeys(terms)))
    pinned, got = pin(rows, **{
        f"df{i}": F.count_if(F.col("termo") == t) for i, t in names.items()
    })
    return pinned, {t: int(got[f"df{i}"]) for i, t in names.items()}


def _by_term(values: dict, typ: str):
    """``values[termo]`` as a literal-map lookup of type ``typ``."""
    return F.create_map(
        *[F.lit(x) for kv in sorted(values.items()) for x in kv]
    )[F.col("termo")].cast(typ)


def bm25_score(
    tf: DataFrame,
    n: int,
    avgdl: float | None,
    df: dict[str, int],
    k1: float,
    b: float,
    id_col: str = "doc_id",
    peso: dict[str, float] | None = None,
) -> DataFrame:
    """Per-doc BM25 scores ``(id, n_termos, pontos)`` — the package's
    one BM25 score expression, behind the scan twins (``tf`` tokenized
    from the corpus) and the indexed twins (``tf`` from
    ``query_postings``) alike.

    ``tf`` holds posting rows ``(id, dl, termo, tf)`` of the query
    terms, pinned by :func:`pin_term_rows`. The corpus statistics are
    driver scalars: ``n`` (document count), ``avgdl`` and ``df``
    (``{termo: df}``), which become literals and a literal map, so
    scoring is one narrow projection of ``tf`` into the per-doc sum —
    no stats join, no broadcast, no df aggregate.
    Per (doc, term): ``idf · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))``
    with ``idf = ln(1 + (n-df+0.5)/(df+0.5))``, rounded
    to 6dp DECIMAL and summed per doc, so rankings and their tie cuts
    are deterministic on both engines.

    ``peso``: ``{termo: peso}`` weighting the query terms (RM3 stage
    2). The term score is then ``peso · idf · tf·(k1+1) / denom``,
    multiplied left to right as the DuckDB oracle writes it."""
    rows = tf.withColumn("df", _by_term(df, "bigint"))
    termo_p = F.log(
        1 + (F.lit(int(n)).cast("bigint") - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
    )
    if peso is not None:
        rows = rows.withColumn("peso", _by_term(peso, "double"))
        termo_p = F.col("peso") * termo_p
    denom = F.col("tf") + k1 * (
        1 - b + b * F.col("dl") / F.lit(avgdl).cast("double")
    )
    return (
        rows.select(
            id_col,
            F.round(termo_p * (F.col("tf") * (k1 + 1)) / denom, 6)
            .cast("decimal(18,6)")
            .alias("p"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_termos"),
            F.round(F.sum("p").cast("double"), 6).alias("pontos"),
        )
    )


def bm25_scores_indexed(
    spark: SparkSession,
    path: str,
    terms: tuple[str, ...],
    k1: float,
    b: float,
    id_col: str = "doc_id",
    peso: dict[str, float] | None = None,
    man: dict | None = None,
) -> DataFrame:
    """Per-doc BM25 scores for ``terms`` from the posting index:
    :func:`bm25_score` over the pinned pruned posting read, with
    ``(n, avgdl)`` folded from the manifest ``man`` (read once, so
    the postings and the stats are one generation). One Spark job
    before the scoring: the pin."""
    man = man or read_manifest(path)
    st = read_stats(path, man)
    rows, df = pin_term_rows(query_postings(spark, path, terms, man), terms)
    return bm25_score(rows, st["n"], st["avgdl"], df, k1, b, id_col, peso)


def bm25_topk_indexed(
    spark: SparkSession,
    path: str,
    terms: tuple[str, ...],
    k: int,
    k1: float,
    b: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k BM25 answer from the posting index:
    :func:`bm25_scores_indexed`, tie-break on doc id. The corpus is
    never touched."""
    return (
        bm25_scores_indexed(spark, path, terms, k1, b, id_col)
        .orderBy(F.desc("pontos"), id_col)
        .limit(int(k))
    )


# -- positional postings: the phrase-search index ---------------------


def tokenize_positional(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        count_obs: Observation | None = None) -> DataFrame:
    """Positional posting rows ``(doc_id, pos, termo)``: the raw
    :func:`~agrobr_spark.normalize.expressions.tokens` of each
    non-blank document with 0-based token offsets kept. The phrase and
    snippet scan twins (``queries/pipeline_text.text_phrase_match``,
    ``text_snippets``) read their rows from here too, so indexed ≡
    scan holds byte-for-byte. Unlike the BM25 rows there is no
    per-(doc, term) aggregation: order IS the payload.

    ``count_obs``: an Observation at the one-row-per-doc point (after
    the empty-text filter, before the posexplode) collecting ``n`` —
    a nonempty trimmed text always yields >= 1 token, so n == 0 is
    exactly "no posting rows" without a separate probe job (r14)."""
    pre = docs.filter(F.length(F.trim(text_col)) > 0)
    if count_obs is not None:
        pre = pre.observe(
            count_obs, F.count(F.lit(1)).cast("bigint").alias("n")
        )
    return (
        pre.select(id_col, F.posexplode(tokens(text_col)).alias("pos", "termo"))
        .select(id_col, F.col("pos").cast("bigint").alias("pos"), "termo")
    )


def build_positional_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Materialize the positional index at ``path``: parquet
    disk-partitioned by ``bucket = pmod(xxhash64(termo), n_buckets)``
    exactly like the BM25 index, rows ``(termo, doc_id, pos)``. A
    phrase query reads |distinct phrase terms| buckets however large
    the corpus grows — the inverted-index property extended with
    positions. One corpus pass, no driver-side data beyond the
    manifest."""
    _build_index(docs, path, n_buckets, id_col, text_col, "positional",
                 tokenize_positional, None)


def update_positional_index(
    docs_new: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: int | None = None,
) -> None:
    """Fold NEW documents into an existing positional index: the
    batch's rows land in a staged ``batches/b<id>/`` directory at the
    manifest-frozen n_buckets and become visible at the atomic
    manifest commit — the crash-safe exactly-once protocol of
    ``update_posting_index`` (no stats delta: positions carry no
    corpus aggregate). Same append-only contract: ids must not
    already be indexed."""
    _update_index(docs_new, path, id_col, text_col, batch_id,
                  tokenize_positional, None)


def phrase_vote(
    rows: DataFrame,
    terms: list[tuple[str, str, int]],
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase occurrences ``(id, frase, n_ocorrencias)`` — the
    one phrase matcher, behind the scan twin (``rows`` tokenized from
    the corpus) and the indexed twin (``rows`` from
    ``query_postings``) alike.

    ``rows`` are positional tokens ``(id, pos, termo)``; ``terms`` is
    each phrase's ``(frase, termo, deslocamento)`` decomposition. A
    token at position p matching offset o votes for start p − o, and
    a start with ALL offsets present is one occurrence. Both small
    tables join broadcast, so only query-term tokens reach the
    (doc, phrase, start) aggregation, whose groups hold at most
    |phrase| rows."""
    termdf = rows.sparkSession.createDataFrame(
        terms, "frase string, termo string, deslocamento int"
    )
    lens = termdf.groupBy("frase").agg(
        F.count(F.lit(1)).alias("comprimento")
    )
    m = rows.join(F.broadcast(termdf), "termo").select(
        id_col,
        "frase",
        (F.col("pos") - F.col("deslocamento")).alias("inicio"),
    )
    cheio = m.groupBy(id_col, "frase", "inicio").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        cheio.join(F.broadcast(lens), "frase")
        .filter(F.col("c") == F.col("comprimento"))
        .groupBy(id_col, "frase")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ocorrencias"))
    )


def phrase_match_indexed(
    spark: SparkSession,
    path: str,
    phrases: tuple[str, ...],
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase occurrences answered from the positional index:
    :func:`phrase_vote` over ONLY the pruned posting read of the
    phrases' terms. Output ``(doc_id, frase, n_ocorrencias)``,
    identical to ``text_phrase_match`` — the catalog pins the identity
    against one shared oracle."""
    terms = [
        (frase, termo, off)
        for frase in phrases
        for off, termo in enumerate(frase.split())
    ]
    postings = query_postings(
        spark, path, tuple(sorted({t for _, t, _ in terms}))
    )
    return phrase_vote(postings, terms, id_col)
