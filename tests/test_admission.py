"""Incremental corpus admission (queries/admission.py).

The r5 VERDICT acceptance bar: a green CORRECTNESS row (covered by
test_oracle.py via the catalog), plus a test proving
admit(batch) ∘ admit(corpus) ≡ full recompute on the fixtures — and,
because that equivalence is conditional, a hand-built demonstration of
the one divergence class no-retraction semantics inherently has.
"""

from __future__ import annotations

import ast
import re
import shutil
import tempfile

import pyspark.sql.functions as F
import pytest

from agrobr_spark.io import load
from agrobr_spark.queries.admission import (
    _split_params,
    admit_batch,
    admit_lsh_frame,
    admit_text_frame,
    build_admission_index,
    build_lsh_admission_index,
    build_semdedup_index,
    build_text_admission_index,
)
from agrobr_spark.store.table import ParquetStore
from tests.conftest import SF_SMOKE
from tests.test_concurrency import PACKAGE, _enclosing_functions


def _surv_ids(spark, store_dir, table="survivors") -> set[int]:
    return {
        r["doc_id"]
        for r in ParquetStore(spark, f"{store_dir}/{table}", ("doc_id",))
        .read()
        .collect()
    }


_BUILDS = {
    "centroid": build_admission_index,
    "text": build_text_admission_index,
    "lsh": build_lsh_admission_index,
    "semdedup": build_semdedup_index,
}


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """Each variant's default-cutoff SF_SMOKE index, built on first
    use and kept for the module."""
    root = tmp_path_factory.mktemp("admission_idx")
    cache = {}

    def get(variant: str) -> str:
        if variant not in cache:
            cache[variant] = str(root / variant)
            _BUILDS[variant](spark, SF_SMOKE, cache[variant])
        return cache[variant]

    return get


@pytest.fixture
def index(built, tmp_path):
    """A private copy of a variant's module-built index."""

    def copy(variant: str, name: str | None = None) -> str:
        d = str(tmp_path / (name or variant))
        shutil.copytree(built(variant), d)
        return d

    return copy


def test_incremental_equals_full_recompute(spark, index):
    """admit(batch | index(corpus)) must land on the same kept set as
    one batch recompute over corpus ∪ batch, given the same min-id
    survivorship and the same frozen blocking (corpus-derived centroid
    count — lowest-id centroids over corpus ∪ batch are the corpus's
    own lowest ids, so pinning k makes the blocking literally
    identical). Holds whenever no batch doc bridges two old clusters
    or near-dups only rejected docs; the fixture satisfies that, and
    test_no_retraction_divergence_demo shows the excluded case."""
    sf_dir = SF_SMOKE
    cut, n_corp = _split_params(spark, sf_dir)
    k = max(4, int(n_corp**0.5))
    max_id = (
        load(spark, sf_dir, "documents").agg(F.max("doc_id")).collect()[0][0]
    )

    d_inc = index("centroid")
    dec = admit_batch(spark, sf_dir, d_inc)
    kept_inc = _surv_ids(spark, d_inc)
    batch_kept = {r["doc_id"] for r in dec.filter(F.col("mantido")).collect()}

    with tempfile.TemporaryDirectory(prefix="adm_full_") as d_full:
        build_admission_index(
            spark, sf_dir, d_full, cutoff=int(max_id) + 1, n_centroids=k
        )
        kept_full = _surv_ids(spark, d_full)

    assert kept_inc == kept_full
    # the store after admit = corpus survivors ∪ admitted batch
    assert batch_kept == {i for i in kept_inc if i >= cut}


def _batch(spark):
    cut, _ = _split_params(spark, SF_SMOKE)
    docs_b = load(spark, SF_SMOKE, "documents").filter(F.col("doc_id") >= cut)
    emb_b = load(spark, SF_SMOKE, "embeddings").filter(F.col("vec_id") >= cut)
    return docs_b, emb_b


_REPLAY = {
    "centroid": (
        "survivors",
        lambda spark, d, docs_b, emb_b: admit_batch(spark, SF_SMOKE, d),
    ),
    "text": (
        "text_signatures",
        lambda spark, d, docs_b, emb_b: admit_text_frame(spark, docs_b, d),
    ),
    "lsh": (
        "survivors",
        lambda spark, d, docs_b, emb_b: admit_lsh_frame(spark, docs_b, emb_b, d),
    ),
}


@pytest.mark.parametrize("variant", sorted(_REPLAY))
def test_admit_replay_is_idempotent(spark, index, variant):
    """Re-admitting the same batch must change nothing: every
    previously-admitted doc is now a survivor in the index, so the
    replay meets its own survivor row (cross pairs keep equal ids) and
    is flagged duplicado_corpus, every other verdict repeats (a batch
    loser may meet its admitted winner instead), and the store is
    stable — the property that makes the foreachBatch
    streaming sinks effectively-exactly-once."""
    table, admit = _REPLAY[variant]
    d = index(variant)
    docs_b, emb_b = _batch(spark)
    first = {
        r["doc_id"]: r["motivo"]
        for r in admit(spark, d, docs_b, emb_b).collect()
    }
    kept_after_first = _surv_ids(spark, d, table)
    second = {
        r["doc_id"]: r["motivo"]
        for r in admit(spark, d, docs_b, emb_b).collect()
    }
    kept_after_second = _surv_ids(spark, d, table)

    assert "mantido" in first.values(), "nothing admitted weakens the check"
    assert kept_after_first == kept_after_second
    assert set(first) == set(second)
    assert "mantido" not in second.values()
    for doc_id, motivo in first.items():
        if motivo == "mantido":
            assert second[doc_id] == "duplicado_corpus", doc_id
        elif motivo == "duplicado_lote":
            # its batch winner may be a survivor now, and a survivor
            # hit outranks a batch one (doc 498 of the text row)
            assert second[doc_id] in (motivo, "duplicado_corpus"), doc_id
        else:
            assert second[doc_id] == motivo, doc_id


def test_store_has_pk_unique_survivors(spark, index):
    """The MERGEd survivor table keeps one row per doc_id with the
    frozen block id and the vector — the state the next day's
    admission reads."""
    d = index("centroid")
    admit_batch(spark, SF_SMOKE, d)
    surv = ParquetStore(spark, f"{d}/survivors", ("doc_id",)).read()
    n = surv.count()
    assert n == surv.select("doc_id").distinct().count()
    assert set(surv.columns) == {"doc_id", "n_chars", "embedding", "_blk"}
    assert surv.filter(F.col("embedding").isNull()).count() == 0


def _write_mini_fixture(spark, d: str) -> None:
    """3 docs: corpus A(0) ~ B(1) (B rejected as dup), batch C(100)
    near-dups ONLY the rejected B. Unit vectors at 0°, 60°, 120° —
    cos(A,B)=cos(B,C)=0.5 >= 0.45 threshold, cos(A,C)=-0.5 < it."""
    import math

    docs = [
        (0, "src", "pt", "texto unico aaa bbb ccc ddd eee", 30),
        (1, "src", "pt", "outro texto fff ggg hhh iii jjj", 30),
        (100, "src", "pt", "terceiro kkk lll mmm nnn ooo ppp", 31),
    ]
    spark.createDataFrame(
        docs, "doc_id long, source string, lang string, text string, n_chars int"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    vecs = [
        (0, "a", [1.0, 0.0]),
        (1, "b", [math.cos(math.pi / 3), math.sin(math.pi / 3)]),
        (100, "c", [math.cos(2 * math.pi / 3), math.sin(2 * math.pi / 3)]),
    ]
    spark.createDataFrame(
        vecs, "vec_id long, label string, embedding array<double>"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")


def test_no_retraction_divergence_demo(spark):
    """The divergence class the equivalence test excludes, made
    concrete: a batch doc whose only near-dup is a REJECTED corpus doc
    is admitted incrementally (the index holds survivors only) but
    dropped by a full recompute (components chain through the rejected
    doc). This is the inherent price of no-retraction incremental
    semantics — documented, not a bug."""
    with tempfile.TemporaryDirectory(prefix="adm_demo_") as fx:
        _write_mini_fixture(spark, fx)
        with tempfile.TemporaryDirectory(prefix="adm_demo_i_") as d:
            build_admission_index(spark, fx, d, cutoff=50, n_centroids=1)
            dec = {
                r["doc_id"]: r["motivo"]
                for r in admit_batch(spark, fx, d, cutoff=50).collect()
            }
            assert _surv_ids(spark, d) == {0, 100}
        assert dec == {100: "mantido"}
        with tempfile.TemporaryDirectory(prefix="adm_demo_f_") as d:
            build_admission_index(spark, fx, d, cutoff=200, n_centroids=1)
            # full recompute chains C -> B -> A: only A survives
            assert _surv_ids(spark, d) == {0}


def test_text_incremental_equals_full(spark, index):
    """The signature-index path's equivalence is STRONGER than the
    embedding path's: band keys and signatures depend only on each
    doc's own text (no corpus-fit blocking state), so candidate pairs
    are split-independent by construction and incremental admission
    must land on exactly the full-recompute survivor set."""
    sf_dir = SF_SMOKE
    cut, _ = _split_params(spark, sf_dir)
    max_id = (
        load(spark, sf_dir, "documents").agg(F.max("doc_id")).collect()[0][0]
    )

    def surv(d):
        return {
            r["doc_id"]
            for r in ParquetStore(
                spark, f"{d}/text_signatures", ("doc_id",)
            ).read().collect()
        }

    d = index("text")
    dec = admit_text_frame(spark, _batch(spark)[0], d)
    kept_inc = surv(d)
    batch_kept = {r["doc_id"] for r in dec.filter(F.col("mantido")).collect()}
    with tempfile.TemporaryDirectory(prefix="admt_full_") as d:
        build_text_admission_index(spark, sf_dir, d, cutoff=int(max_id) + 1)
        kept_full = surv(d)

    assert kept_inc == kept_full
    assert batch_kept == {i for i in kept_inc if i >= cut}


def test_lsh_admission_split_independent(spark, index):
    """The LSH variant's stronger claim: blocking depends only on each
    vector alone (no fitted state), so admitting in TWO sequential
    batches must keep exactly the same docs as admitting everything
    after the corpus in ONE batch — no pinning needed, unlike the
    centroid path's frozen-k equivalence."""
    cut, _ = _split_params(spark, SF_SMOKE)
    docs = load(spark, SF_SMOKE, "documents")
    emb = load(spark, SF_SMOKE, "embeddings")
    mid = cut + (500 - cut) // 2

    one, two = index("lsh"), index("lsh", "lsh_two")
    d1 = admit_lsh_frame(
        spark,
        docs.filter(F.col("doc_id") >= cut),
        emb.filter(F.col("vec_id") >= cut),
        one,
    )
    kept_one_shot = {r["doc_id"] for r in d1.filter("mantido").collect()}

    d2a = admit_lsh_frame(
        spark,
        docs.filter((F.col("doc_id") >= cut) & (F.col("doc_id") < mid)),
        emb.filter((F.col("vec_id") >= cut) & (F.col("vec_id") < mid)),
        two,
    )
    d2b = admit_lsh_frame(
        spark,
        docs.filter(F.col("doc_id") >= mid),
        emb.filter(F.col("vec_id") >= mid),
        two,
    )
    kept_two_step = {
        r["doc_id"] for r in d2a.filter("mantido").collect()
    } | {r["doc_id"] for r in d2b.filter("mantido").collect()}

    # caveat shared with the centroid path: a second-batch doc whose
    # only near-dup was a REJECTED first-batch doc diverges under
    # no-retraction; on the fixture split none exists, so the sets
    # must be identical (exactness is the point)
    assert kept_two_step == kept_one_shot
    assert _surv_ids(spark, one) == _surv_ids(spark, two)


def test_lsh_planes_sizing_rule():
    """The adaptive bucket-width rule: monotone in n, clamped to
    [MIN_PLANES, MAX_PLANES], and the DuckDB CASE-chain twin computes
    the identical value for every n across the whole operating range
    (the cross-engine identity the oracle depends on)."""
    import duckdb

    from agrobr_spark.queries.similarity import (
        MAX_PLANES,
        MIN_PLANES,
        TARGET_BUCKET,
        lsh_planes_case_duck,
        lsh_planes_for,
    )

    assert lsh_planes_for(0) == MIN_PLANES
    assert lsh_planes_for(10**12) == MAX_PLANES
    prev = MIN_PLANES
    ns = [1, 100, 400, 2_000, 10_000, 65_536, 10**6, 10**9]
    # boundary exactness: at n == TARGET_BUCKET * 2^p the width stays p
    ns += [TARGET_BUCKET * (1 << p) for p in range(MIN_PLANES, MAX_PLANES)]
    ns += [TARGET_BUCKET * (1 << p) + 1 for p in range(MIN_PLANES, MAX_PLANES)]
    con = duckdb.connect()
    try:
        for n in sorted(ns):
            p = lsh_planes_for(n)
            assert MIN_PLANES <= p <= MAX_PLANES
            assert p >= prev, "width must be monotone in n"
            prev = p
            duck = con.execute(
                f"SELECT {lsh_planes_case_duck(str(n))}"
            ).fetchone()[0]
            assert duck == p, f"n={n}: spark rule {p} != duck rule {duck}"
    finally:
        con.close()
    assert lsh_planes_for(TARGET_BUCKET * (1 << MIN_PLANES)) == MIN_PLANES
    assert (
        lsh_planes_for(TARGET_BUCKET * (1 << MIN_PLANES) + 1) == MIN_PLANES + 1
    )


def test_lsh_index_freezes_bucket_width(spark, index):
    """The index persists the width it was built at, and admit refuses
    an index without that metadata — hashing a batch at a different
    width than the index silently loses collisions, so the failure
    must be loud."""
    import json

    from agrobr_spark.queries.similarity import lsh_planes_for
    from agrobr_spark.store.fs import delete_path, read_text

    cut, n_corp = _split_params(spark, SF_SMOKE)
    d = index("lsh")
    meta = json.loads(read_text(spark, f"{d}/lsh_meta.json"))
    assert meta["n_planes"] == lsh_planes_for(n_corp)

    docs_b = load(spark, SF_SMOKE, "documents").filter(F.col("doc_id") >= cut)
    emb_b = load(spark, SF_SMOKE, "embeddings").filter(F.col("vec_id") >= cut)
    dec = admit_lsh_frame(spark, docs_b.limit(20), emb_b.limit(20), d)
    assert dec.count() > 0

    delete_path(spark, f"{d}/lsh_meta.json")
    with pytest.raises(ValueError, match="lsh_meta"):
        admit_lsh_frame(spark, docs_b.limit(5), emb_b.limit(5), d)


def test_lsh_occupancy_guard_warns_past_headroom():
    """A survivor store that outgrew its frozen width's design load
    (TARGET_BUCKET * 2^p * headroom) must warn the operator to
    rebuild; a store within the design load must stay silent."""
    import warnings

    from agrobr_spark.queries.admission import (
        LSH_REBUILD_HEADROOM,
        _lsh_occupancy_check,
    )
    from agrobr_spark.queries.similarity import TARGET_BUCKET

    p = 6
    design = TARGET_BUCKET * (1 << p)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # silence == pass
        _lsh_occupancy_check(design * LSH_REBUILD_HEADROOM, p)
    with pytest.warns(RuntimeWarning, match="rebuild the index"):
        _lsh_occupancy_check(design * LSH_REBUILD_HEADROOM + 1, p)


def test_semdedup_admit_replay_is_idempotent(spark, index):
    """Streamed SemDeDup admission (r8 verdict next #3): re-admitting
    the same batch must change nothing — verdicts are replay-STABLE
    (the strict id< predicate excludes a re-delivered vector from its
    own veto set, and larger-id arrivals can never veto), and the seen
    store is PK-idempotent under the MERGE."""
    from agrobr_spark.queries.admission import admit_semdedup_frame

    emb_b = _batch(spark)[1]

    def seen_state(d):
        return {
            (r["vec_id"], r["origem"], r["motivo"], r["mantido"])
            for r in ParquetStore(spark, f"{d}/sem_seen", ("vec_id",))
            .read()
            .collect()
        }

    d = index("semdedup")
    first = {
        r["vec_id"]: r["motivo"]
        for r in admit_semdedup_frame(spark, emb_b, d).collect()
    }
    state1 = seen_state(d)
    second = {
        r["vec_id"]: r["motivo"]
        for r in admit_semdedup_frame(spark, emb_b, d).collect()
    }
    state2 = seen_state(d)

    assert first == second  # verdicts identical, not merely same keys
    assert state1 == state2
    assert set(first) == {
        r["vec_id"] for r in emb_b.select("vec_id").collect()
    }


def test_semdedup_admit_split_independent(spark, index):
    """Feeding the batch as one frame or as two id-ranged halves must
    produce identical decisions — the property that makes the
    foreachBatch stream equal the one-shot oracle."""
    from agrobr_spark.queries.admission import admit_semdedup_frame

    emb_b = _batch(spark)[1]
    mid = int(
        emb_b.agg(F.min("vec_id") + (F.max("vec_id") - F.min("vec_id")) / 2)
        .collect()[0][0]
    )

    d = index("semdedup")
    one = {
        r["vec_id"]: (r["motivo"], r["cluster"])
        for r in admit_semdedup_frame(spark, emb_b, d).collect()
    }

    d = index("semdedup", "semdedup_two")
    h1 = admit_semdedup_frame(
        spark, emb_b.filter(F.col("vec_id") < mid), d
    ).collect()
    h2 = admit_semdedup_frame(
        spark, emb_b.filter(F.col("vec_id") >= mid), d
    ).collect()
    two = {r["vec_id"]: (r["motivo"], r["cluster"]) for r in h1 + h2}

    assert one == two


#: a Spark md5 word-shingle explode (``transform(sequence(...), i ->
#: md5(concat_ws(' ', t[i], ...``), read off string literals so that a
#: split literal still matches; the DuckDB oracles spell the shingle
#: with ``unnest(range(...))`` and are not matched
_SHINGLE = re.compile(r"sequence\(.*md5\(concat_ws\(' ',\s*t\[i\]", re.S)
#: the min-id loser filter of connected_components' output
_LOSER = re.compile(
    r"F\.col\(\s*[\"']componente[\"']\s*\)\s*<\s*F\.col\(\s*[\"']id[\"']\s*\)"
)
#: the contamination hit bar and the LSH band-key md5
_CONTAM = re.compile(r">=\s*_CONTAM_HITS\b")
_BAND_KEY = re.compile(r"F\.md5\(\s*F\.concat\(\s*\*")

_OWNERS = {
    "shingle": ("queries/dedup.py", "word_shingles"),
    "loser": ("queries/admission.py", "_losers"),
    "contamination": ("queries/admission.py", "contaminated"),
    "band key": ("queries/dedup.py", "band_keys"),
}


def _literals(src):
    """(line, text) of each string literal; adjacent literals are one
    node, and f-string fields read as ``{}``."""
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.JoinedStr):
            yield node.lineno, "".join(
                v.value if isinstance(v, ast.Constant) else "{}"
                for v in node.values
            )
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            yield node.lineno, node.value


def _matches(src):
    """(kind, line) of every match in one module's source."""
    for line, text in _literals(src):
        if _SHINGLE.search(text):
            yield "shingle", line
    for kind, pattern in (
        ("loser", _LOSER), ("contamination", _CONTAM), ("band key", _BAND_KEY)
    ):
        for m in pattern.finditer(src):
            yield kind, src.count("\n", 0, m.start()) + 1


def test_admission_idioms_have_one_definition():
    """The md5 word-shingle explode lives in dedup.word_shingles, the
    band-key md5 in dedup.band_keys, and the min-id loser filter and
    the contamination bar in the admission core; a copy elsewhere
    fails with its file:line."""
    offenders, owners_seen = [], set()
    for f in sorted(PACKAGE.rglob("*.py")):
        rel = f.relative_to(PACKAGE).as_posix()
        src = f.read_text(encoding="utf-8")
        owner = _enclosing_functions(src)
        for kind, line in sorted(set(_matches(src))):
            if (rel, owner.get(line)) == _OWNERS[kind]:
                owners_seen.add(kind)
            else:
                offenders.append(f"{kind} at agrobr_spark/{rel}:{line}")
    assert not offenders, "copied admission idiom: " + ", ".join(offenders)
    # the patterns still match their one definition
    assert owners_seen == set(_OWNERS)
