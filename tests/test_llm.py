"""LLM-pipeline operator tests (SURVEY §2 L): approximate tiers
validated against their exact kernels."""

import pytest
from pyspark.sql import functions as F

from dataworks_spark.llm.dedup import (
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    word_ngrams,
)
from dataworks_spark.llm.multimodal import extract_features, frame_sample
from dataworks_spark.llm.similarity import (
    brute_force_cosine_topk,
    cosine_pairs_above,
    lsh_cosine_topk,
)
from dataworks_spark.llm.text import document_fingerprint, language_scores, token_count
from dataworks_spark.session import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_word_ngrams_short_text(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",)], "text string")
    out = df.select(F.size(word_ngrams(F.col("text"), 3)).alias("n")).collect()
    assert sorted(r.n for r in out) == [0, 2]  # shorter than n → empty


def test_ngram_pigeonhole_matches_cooccurrence(spark, docs):
    """r15: the pigeonhole candidate/verify execution of
    ngram_jaccard_pairs must return BIT-IDENTICAL (pair, inter,
    jaccard) rows to the pure-JVM co-occurrence twin — on the fixture
    corpus, on a planted hot-shingle family (the saturated-vocabulary
    regime the kernel exists for), and on an edge frame (empty / short
    / NULL texts, exact twins, repeated-shingle text) — across parts
    values bracketing the per-pair prune threshold from τ>1 down to
    the degenerate τ=1 (parts larger than any doc's shingle count,
    where candidates = all co-occurring pairs)."""

    def rows(df_out):
        return sorted(
            (r.doc_a, r.doc_b, r.inter, r.jaccard) for r in df_out.collect()
        )

    # fixture corpus: real near-dup families
    exact = rows(ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.3, method="cooccur"))
    assert exact, "fixture should contain near-dups"
    for parts in (1, 8):
        got = rows(
            ngram_jaccard_pairs(
                docs, "doc_id", "text", 3, 0.3, method="pigeonhole", parts=parts
            )
        )
        assert got == exact, f"parts={parts}"

    # planted skew: a 12-doc boilerplate family sharing one hot
    # paragraph + an unrelated rare pair + degenerate texts
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    edge = [(i, boiler + f" tail{i}") for i in range(12)]
    edge += [
        (100, "alpha beta gamma delta epsilon zeta"),
        (101, "alpha beta gamma delta epsilon eta"),
        (200, ""),
        (201, "one two"),
        (202, None),
        (203, "x y z x y z x y z"),
        (204, "x y z x y z x y z"),
    ]
    df = spark.createDataFrame(edge, "doc_id long, text string")
    for th in (0.2, 0.5):
        want = rows(ngram_jaccard_pairs(df, "doc_id", "text", 3, th, method="cooccur"))
        for parts in (1, 4, 64):
            got = rows(
                ngram_jaccard_pairs(
                    df, "doc_id", "text", 3, th, method="pigeonhole", parts=parts
                )
            )
            assert got == want, f"threshold={th} parts={parts}"
    # r16: the STREAMING counting arm (past stream_pairs_min the kernel
    # never materializes the full pair buffer) must emit the same
    # candidates — force it for every part shape on the planted skew
    for parts in (1, 4):
        got = rows(
            ngram_jaccard_pairs(
                df, "doc_id", "text", 3, 0.2, method="pigeonhole",
                parts=parts, stream_pairs_min=0,
            )
        )
        want = rows(ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.2, method="cooccur"))
        assert got == want, f"streaming arm parts={parts}"
    # schema parity (inter must stay long; ids keep the input dtype) —
    # simpleString level: nullability metadata legitimately differs
    # (count() is non-nullable, the verify-join size() is not), and the
    # driver's oracle compare hashes pandas dtypes, not nullability
    a = ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.3, method="cooccur")
    b = ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.3, method="pigeonhole")
    assert a.schema.simpleString() == b.schema.simpleString()


def test_ngram_pigeonhole_chunk_boundary(spark):
    """r15 session 5: the kernel's counting scan walks the radix-sorted
    pair buffer in 4 M-pair slices with small reused temporaries — this
    pins the slice-boundary logic (a duplicate run or singleton whose
    neighbours fall in the adjacent slice) on a planted family whose
    SINGLE hot-shingle group exceeds one slice: 2 950 docs share a
    4-word phrase (two 3-gram shingles, so every within-family pair has
    multiplicity 2 and C(2950,2) ≈ 4.35 M pairs PER GROUP crosses the
    boundary mid-group in both the enumerate fill and the counting
    scan). Only the planted exact twins survive the τ prune at t=0.3,
    so the verify and the result compare stay small; equality is
    against the co-occurrence twin, the usual oracle."""
    phrase = "shared boiler plate words"
    fam = [(i, f"{phrase} u{i} v{i} w{i} x{i} y{i}") for i in range(2950)]
    fam += [
        (9000, "identical twin text aaa bbb ccc ddd"),
        (9001, "identical twin text aaa bbb ccc ddd"),
    ]
    df = spark.createDataFrame(fam, "doc_id long, text string")

    def rows(out):
        return sorted((r.doc_a, r.doc_b, r.inter, r.jaccard) for r in out.collect())

    want = rows(ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.3, method="cooccur"))
    got = rows(
        ngram_jaccard_pairs(
            df, "doc_id", "text", 3, 0.3, method="pigeonhole", parts=1
        )
    )
    assert (9000, 9001) in {(a, b) for a, b, _, _ in want}
    assert got == want
    # r16: same multi-slice family through the STREAMING counting arm —
    # its cross-slice bitmap + exact recount must agree bit-for-bit
    got_stream = rows(
        ngram_jaccard_pairs(
            df, "doc_id", "text", 3, 0.3, method="pigeonhole", parts=1,
            stream_pairs_min=0,
        )
    )
    assert got_stream == want


def test_ngram_pigeonhole_verify_shuffle_arm(spark, docs, monkeypatch):
    """r16 (r15 VERDICT #4): above PIGEONHOLE_VERIFY_BROADCAST_MAX
    candidates the verify joins must run WITHOUT the F.broadcast HINT —
    the broadcast relations carry full shingle arrays, which a
    dup-heavy corpus grows past the 8 GB broadcast ceiling. Forcing the
    threshold to 0 exercises the shuffle arm: pair output stays
    bit-identical to the broadcast arm and to the cooccur twin, and the
    ANALYZED plan carries no broadcast ResolvedHint — the strategy is
    left to the planner's SIZE-based choice (at fixture scale AQE
    legitimately re-broadcasts the actually-tiny sides; at 100 TB the
    same size logic keeps them shuffled, which is the point: the hint
    was the unbounded part, not the join)."""
    from dataworks_spark.llm import dedup as D

    def rows(out):
        return sorted((r.doc_a, r.doc_b, r.inter, r.jaccard) for r in out.collect())

    want = rows(
        D.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.3, method="cooccur")
    )
    assert want
    monkeypatch.setattr(D, "PIGEONHOLE_VERIFY_BROADCAST_MAX", 0)
    shuffled = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", 3, 0.3, method="pigeonhole", parts=4
    )
    assert rows(shuffled) == want
    plan = shuffled._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan, plan[:2000]
    monkeypatch.setattr(D, "PIGEONHOLE_VERIFY_BROADCAST_MAX", 100_000)
    bcast = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", 3, 0.3, method="pigeonhole", parts=4
    )
    assert rows(bcast) == want
    plan_b = bcast._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in plan_b, plan_b[:2000]


def test_minhash_recalls_true_near_dups(docs):
    """MinHash banding (64 hashes / 16 bands) must recall the clearly
    near-duplicate pairs the exact n-gram kernel finds at jaccard≥0.5."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    }
    approx = {
        (r.doc_a, r.doc_b)
        for r in minhash_near_dup_pairs(
            docs, "doc_id", "text", n_hashes=64, bands=16, threshold=0.3
        ).collect()
    }
    assert exact, "fixture should contain strong near-dups"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall} over {len(exact)} strong pairs"


def test_max_bucket_caps_hot_lsh_buckets(spark):
    """r12 100 TB guard: a boilerplate family of k docs identical in
    every band emits k² candidates per bucket — max_bucket drops those
    buckets before the self-join while leaving normal near-dup pairs
    untouched (they pair via their own small buckets)."""
    from dataworks_spark.llm.dedup import (
        minhash_near_dup_pairs,
        simhash_near_dup_pairs,
    )

    family = "license header boilerplate text repeated verbatim on every page forever"
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = a.replace("today", "tomorrow")
    rows = [(i, family) for i in range(40)] + [(100, a), (101, b)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = minhash_near_dup_pairs(df, "doc_id", "text", threshold=0.3)
    capped = minhash_near_dup_pairs(
        df, "doc_id", "text", threshold=0.3, max_bucket=10
    )
    un = {(r.doc_a, r.doc_b) for r in uncapped.collect()}
    cp = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert (100, 101) in un and (100, 101) in cp  # real pair survives
    assert len(un) == 40 * 39 // 2 + 1  # family blowup without the cap
    assert cp == {(100, 101)}  # family buckets dropped with it

    sun = {(r.doc_a, r.doc_b) for r in simhash_near_dup_pairs(df, "doc_id", "text").collect() if r.hamming <= 12}
    scp = {(r.doc_a, r.doc_b) for r in simhash_near_dup_pairs(df, "doc_id", "text", max_bucket=10).collect() if r.hamming <= 12}
    assert (100, 101) in sun and (100, 101) in scp
    assert not any(x < 100 and y < 100 for x, y in scp)

    with pytest.raises(ValueError, match="max_bucket"):
        minhash_near_dup_pairs(df, "doc_id", "text", max_bucket=0)


def test_prebuilt_survivors_and_checkpoint_free_parity(spark):
    """r15 session 2 seams behind q_dedup_sketch leaving the bench
    rebuild set: (a) a prebuilt minhash_band_survivors relation passed
    as ``survivors=`` yields EXACTLY the inline ``max_bucket`` pair
    set on planted hot-bucket skew — the bucket histogram is
    ingest-time state; (b) hamming_near_dup_pairs with
    ``checkpoint=False`` over a persisted fingerprint relation yields
    exactly the checkpointed pairs."""
    from dataworks_spark.llm.dedup import (
        hamming_near_dup_pairs,
        minhash_band_survivors,
        minhash_pairs_from_signatures,
        minhash_signatures,
        simhash,
    )

    family = "license header boilerplate text repeated verbatim on every page forever"
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = a.replace("today", "tomorrow")
    rows = [(i, family) for i in range(40)] + [(100, a), (101, b)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sig = minhash_signatures(df, "doc_id", "text", n_hashes=64).persist()
    sig.count()
    try:
        inline = {
            (r.doc_a, r.doc_b): r.est_jaccard
            for r in minhash_pairs_from_signatures(
                sig, 64, 16, threshold=0.3, max_bucket=10
            ).collect()
        }
        sur = minhash_band_survivors(sig, 64, 16, max_bucket=10).persist()
        sur.count()
        try:
            via_asset = {
                (r.doc_a, r.doc_b): r.est_jaccard
                for r in minhash_pairs_from_signatures(
                    sig, 64, 16, threshold=0.3, survivors=sur
                ).collect()
            }
        finally:
            sur.unpersist()
        assert via_asset == inline and (100, 101) in inline
        assert not any(x < 100 and y < 100 for x, y in via_asset)

        with pytest.raises(ValueError, match="max_bucket"):
            minhash_band_survivors(sig, 64, 16, max_bucket=0)
    finally:
        sig.unpersist()

    fps = df.select(
        F.col("doc_id").alias("doc"), simhash(F.col("text")).alias("fp")
    ).persist()
    fps.count()
    try:
        with_cp = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in hamming_near_dup_pairs(fps, "doc", "fp").collect()
        }
        without_cp = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in hamming_near_dup_pairs(
                fps, "doc", "fp", checkpoint=False
            ).collect()
        }
    finally:
        fps.unpersist()
    assert without_cp == with_cp and with_cp

    # band-shape validation: 0 died with a bare ZeroDivisionError,
    # >64 silently built zero quarters and returned no candidates
    for bad in (0, -8, 65):
        with pytest.raises(ValueError, match="band_bits"):
            hamming_near_dup_pairs(fps, "doc", "fp", band_bits=bad)


def test_simhash_separates_dup_from_random(spark, docs):
    """Near-identical texts get near-identical simhash fingerprints."""
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = a.replace("today", "tomorrow")  # one-token edit
    c = "completely different words about spark shuffles and parquet footers here"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "doc_id long, text string")
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_dup_pairs(df, "doc_id", "text").collect()
    }
    assert pairs.get((1, 2), 64) <= 12
    assert all(h > 12 for k, h in pairs.items() if k != (1, 2))


def test_lsh_topk_subset_of_bruteforce_order(emb):
    """Single-probe LSH returns true cosine scores (a subset of the
    exact ranking, from the query's bucket)."""
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    rest = emb.filter(F.col("vec_id") != 0)
    exact = brute_force_cosine_topk(rest, "embedding", qvec, 50, ["vec_id", "label"]).collect()
    approx = lsh_cosine_topk(rest, "embedding", qvec, 10, n_planes=4, id_cols=["vec_id", "label"]).collect()
    assert approx, "query bucket should not be empty"
    exact_scores = {r.vec_id: r.cos_sim for r in exact}
    for r in approx:
        if r.vec_id in exact_scores:
            assert abs(r.cos_sim - exact_scores[r.vec_id]) < 1e-9


def test_multiprobe_lsh_improves_recall(emb):
    """Multi-probe candidates ⊇ single-probe; probing every bucket
    (n_probe = 2^planes) recovers the exact top-k."""
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    rest = emb.filter(F.col("vec_id") != 0)
    exact5 = {r.vec_id for r in brute_force_cosine_topk(rest, "embedding", qvec, 5, ["vec_id", "label"]).collect()}
    single = {r.vec_id for r in lsh_cosine_topk(rest, "embedding", qvec, 500, n_planes=4, n_probe=1, id_cols=["vec_id", "label"]).collect()}
    multi = {r.vec_id for r in lsh_cosine_topk(rest, "embedding", qvec, 500, n_planes=4, n_probe=5, id_cols=["vec_id", "label"]).collect()}
    # single-bit flips reach n_planes+1 of the 2^n buckets: candidates
    # strictly grow, and recall of the exact top-5 must not decrease
    assert single <= multi
    assert len(exact5 & single) <= len(exact5 & multi)
    # candidate coverage grows ~n_probe/2^planes (5/16 here)
    assert len(multi) > len(single)


def test_ivf_topk_scores_exact_within_probed_lists(emb):
    """IVF ANN returns true cosine scores; with enough probes the top-1
    matches brute force (the nearest vector's list is almost always
    probed)."""
    from dataworks_spark.llm.similarity import ivf_cosine_topk

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    rest = emb.filter(F.col("vec_id") != 0)
    exact = brute_force_cosine_topk(rest, "embedding", qvec, 5, ["vec_id", "label"]).collect()
    approx = ivf_cosine_topk(
        rest, "embedding", qvec, 5, n_centroids=4, n_probe=4, id_cols=["vec_id", "label"]
    ).collect()
    # probing ALL lists == exact search: same answer, proves correctness
    assert [r.vec_id for r in approx] == [r.vec_id for r in exact]
    few = ivf_cosine_topk(
        rest, "embedding", qvec, 5, n_centroids=4, n_probe=1, id_cols=["vec_id", "label"]
    ).collect()
    exact_scores = {r.vec_id: r.cos_sim for r in exact}
    for r in few:  # scores are true cosines even in the pruned search
        if r.vec_id in exact_scores:
            assert abs(r.cos_sim - exact_scores[r.vec_id]) < 1e-9


def test_cosine_pairs_lsh_bucketing_consistent(emb):
    """Bucketed near-dup pairs ⊆ exact pairs, with identical scores."""
    sub = emb.filter(F.col("vec_id") < 100)
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_pairs_above(sub, "vec_id", "embedding", 0.3, exact=True).collect()
    }
    bucketed = cosine_pairs_above(sub, "vec_id", "embedding", 0.3, n_planes=2).collect()
    for r in bucketed:
        assert abs(exact[(r.id_a, r.id_b)] - r.cos_sim) < 1e-12


def test_cosine_pairs_default_has_no_cartesian(emb):
    """The DEFAULT near-dup path must never plan a cartesian product
    (VERDICT r1 §4): buckets are the default, O(n²) is opt-in."""
    sub = emb.filter(F.col("vec_id") < 100)
    plan = (
        cosine_pairs_above(sub, "vec_id", "embedding", 0.3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    import pytest

    with pytest.raises(ValueError):
        cosine_pairs_above(sub, "vec_id", "embedding", 0.3, n_planes=0)


def test_text_functions(docs):
    row = docs.select(
        token_count(F.col("text")).alias("n"),
        language_scores(F.col("text")).alias("scores"),
        document_fingerprint(F.col("text")).alias("fp"),
    ).first()
    assert row.n > 0 and set(row.scores) == {"en", "de", "es"} and len(row.fp) == 32


def test_fingerprint_token_order_invariant(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta beta")], "id long, text string"
    )
    fps = [r.fp for r in df.select(document_fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_multimodal_feature_extraction(spark, docs):
    media = docs.limit(50).select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 50
    assert all(0.0 <= r.feature_0 <= 1.0 and len(r.sha256) == 64 for r in rows)
    # deterministic: same payload → same features
    again = {r.media_id: r.feature_0 for r in extract_features(media).collect()}
    assert all(again[r.media_id] == r.feature_0 for r in rows)


def test_multimodal_binary_file_ingest(spark, tmp_path):
    """A5/L5 ingest: spark.read.format('binaryFile') → media schema →
    feature extraction over real files."""
    from dataworks_spark.llm.multimodal import read_binary_dir

    media_dir = tmp_path / "media"
    media_dir.mkdir()
    (media_dir / "a.png").write_bytes(b"\x89PNG fake image bytes " * 10)
    (media_dir / "b.png").write_bytes(b"\x89PNG other bytes " * 5)
    df = read_binary_dir(spark, str(media_dir))
    rows = df.collect()
    assert len(rows) == 2
    assert {r.meta.format for r in rows} == {"png"}
    assert all(r.meta.n_bytes == len(r.payload) for r in rows)
    feats = extract_features(df).collect()
    assert len(feats) == 2 and all(len(r.sha256) == 64 for r in feats)


def test_multimodal_fixture_deterministic(spark, tmp_path):
    """write_media_fixture is idempotent and id_pattern ids are stable
    across directory locations (unlike the xxhash64(path) fallback)."""
    from dataworks_spark.llm.multimodal import read_binary_dir, write_media_fixture

    p1 = write_media_fixture("t", n=8, root=str(tmp_path / "r1"))
    p2 = write_media_fixture("t", n=8, root=str(tmp_path / "r2"))
    f1 = extract_features(read_binary_dir(spark, p1, id_pattern=r"media_(\d+)\.")).collect()
    f2 = extract_features(read_binary_dir(spark, p2, id_pattern=r"media_(\d+)\.")).collect()
    assert {(r.media_id, r.sha256) for r in f1} == {(r.media_id, r.sha256) for r in f2}
    assert len(f1) == 8 and sorted(r.media_id for r in f1) == list(range(8))
    # idempotent: re-calling reuses the completed fixture
    assert write_media_fixture("t", n=8, root=str(tmp_path / "r1")) == p1


def test_multimodal_frame_sample(spark):
    df = spark.createDataFrame([(1, b"x" * 5000), (2, b"y" * 100)], "media_id long, payload binary")
    rows = frame_sample(df, every_n=2).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.media_id, []).append(r.frame_idx)
    assert by_id[1] == [0, 2] and by_id[2] == [0]  # 5000B → 4 fake frames


def test_near_dup_clusters_match_union_find(spark, docs):
    """Connected components via min-label propagation must equal a
    brute-force union-find over the same pair list — both on a synthetic
    edge list with known components and on real n-gram near-dup pairs."""
    from dataworks_spark.llm.dedup import (
        dedup_keep_canonical,
        near_dup_clusters,
        ngram_jaccard_pairs,
    )

    def union_find(pairs):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    # synthetic: two chains + a triangle + an isolated pair
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]
    pdf = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.id: r.cluster for r in near_dup_clusters(pdf).collect()}
    assert got == union_find(edges)

    # real pairs from the exact kernel
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3)
    edge_rows = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    got = {r.id: r.cluster for r in near_dup_clusters(pairs).collect()}
    assert got == union_find(edge_rows)

    # STRING ids with a diameter-4 path: sum(label) is null for strings,
    # so a numeric convergence signal would freeze after one propagation
    # round and mislabel everything past the first hop (ADVICE r2). Doc
    # ids in this engine are routinely strings ('user/<name>').
    sedges = [
        ("user/b", "user/c"),
        ("user/c", "user/d"),
        ("user/d", "user/e"),
        ("user/a", "user/b"),
        ("user/x", "user/y"),
    ]
    spdf = spark.createDataFrame(sedges, "doc_a string, doc_b string")
    sgot = {r.id: r.cluster for r in near_dup_clusters(spdf).collect()}
    assert sgot == union_find(sedges)
    assert sgot["user/e"] == "user/a"  # full diameter actually propagated

    kept = dedup_keep_canonical(docs, "doc_id", pairs)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    dropped = {i for i, c in got.items() if i != c}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert kept_ids == all_ids - dropped


def test_near_dup_clusters_log_rounds_on_long_chain(spark):
    """Pointer jumping must make deep components converge in
    O(log diameter) rounds: a 64-node chain has diameter 63, so plain
    min-label propagation needs ~63 rounds — the log-rounds plan must
    land it (and the confirming probe) within a 12-round cap."""
    from dataworks_spark.llm.dedup import near_dup_clusters

    chain = [(i, i + 1) for i in range(64)]
    pdf = spark.createDataFrame(chain, "doc_a long, doc_b long")
    got = {
        r.id: r.cluster
        for r in near_dup_clusters(pdf, max_iterations=12).collect()
    }
    assert got == {i: 0 for i in range(65)}


def test_ivf_partitioned_write_prunes(spark, emb, tmp_path):
    """The IVF 100 TB path EXECUTED: write the table partitioned by the
    coarse-quantizer cell, read back with the probe-list filter, and
    assert the scan prunes on the partition column (source-level
    pruning, not a post-scan filter)."""
    import numpy as np

    from dataworks_spark.llm.similarity import (
        brute_force_cosine_topk,
        ivf_assign,
        ivf_build_centroids,
    )

    cents = ivf_build_centroids(emb, "embedding", n_centroids=4)
    path = str(tmp_path / "ivf")
    emb.withColumn("ivf_cell", ivf_assign(F.col("embedding"), cents)).write.partitionBy(
        "ivf_cell"
    ).parquet(path)

    table = spark.read.parquet(path)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    q = np.asarray(qvec)
    cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    probes = np.argsort(-(cn @ (q / np.linalg.norm(q))))[:2].tolist()
    cands = table.filter(F.col("ivf_cell").isin([int(p) for p in probes]))
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_cell" in plan.split("PartitionFilters")[1][:200]
    top = brute_force_cosine_topk(
        cands.filter(F.col("vec_id") != 0), "embedding", qvec, 5, id_cols=["vec_id"]
    ).collect()
    assert len(top) == 5


def test_repetition_features(spark):
    """Gopher/C4-style repetition filters: a templated doc (repeated
    lines, repeated phrases) scores high; natural text scores ~0."""
    from dataworks_spark.llm.text import repetition_features

    spam = "buy now cheap deals\n" * 5 + "one unique closing line"
    clean = "every word in this perfectly ordinary sentence appears exactly once here"
    df = spark.createDataFrame([(1, spam), (2, clean)], "doc_id long, text string")
    feats = repetition_features(F.col("text"))
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            feats["dup_line_ratio"].alias("dl"),
            feats["dup_3gram_ratio"].alias("dg"),
        ).collect()
    }
    assert rows[1].dl > 0.5 and rows[1].dg > 0.5
    assert rows[2].dl == 0.0 and rows[2].dg == 0.0


def test_prepare_corpus_end_to_end(spark, docs):
    """L1-L6 composed: the full corpus-preparation flow removes exact
    and near dups, filters junk, keeps real text, and appends the
    accounting columns a shard-writer needs."""
    import datetime  # noqa: F401 — parity with module style

    from dataworks_spark.llm.pipeline import CorpusConfig, prepare_corpus

    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    rows = [
        (1, base),
        (2, base),                                    # exact dup of 1
        (3, base + " tonight"),                       # near dup of 1
        (4, "short"),                                 # under min_tokens
        (5, "!!! ??? ;;; ### $$$ %%% ^^^ &&& *** ((("),  # punct junk
        (6, "we are here because the water is wide and the night is long " * 2),
        (7, "spam spam spam spam spam spam spam spam spam spam spam spam"),  # repetition
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = prepare_corpus(df, config=CorpusConfig(near_dup_threshold=0.4))
    kept = {r.doc_id: r for r in out.collect()}
    assert 1 in kept, "canonical survivor must stay"
    assert 2 not in kept, "exact dup must be removed"
    assert 3 not in kept, "near dup must be removed"
    assert 4 not in kept, "too-short doc must be filtered"
    assert 5 not in kept, "punctuation junk must be filtered"
    assert 7 not in kept, "repetitive doc must be filtered"
    assert 6 in kept, "real text must survive"
    row = kept[6]
    assert row.lang == "en" and row.n_tokens > 10 and row.fingerprint
    assert 0.0 <= row.quality_score <= 1.0

    # determinism under layout (the rows-only anchor, as everywhere)
    out2 = prepare_corpus(df.repartition(5), config=CorpusConfig(near_dup_threshold=0.4))
    assert sorted(r.doc_id for r in out2.collect()) == sorted(kept)


def test_prepare_corpus_on_fixture(spark, docs):
    """Runs on the documents fixture: output is a strict subset with
    the accounting schema, and dedup actually removes something (the
    fixture ships intentional dups)."""
    from dataworks_spark.llm.pipeline import prepare_corpus

    out = prepare_corpus(docs)
    n_in, n_out = docs.count(), out.count()
    assert 0 < n_out < n_in
    for c in ("lang", "n_tokens", "n_bpe_tokens", "quality_score", "fingerprint"):
        assert c in out.columns


def test_hash_split_deterministic_and_proportional(spark):
    from dataworks_spark.llm.pipeline import hash_split

    df = spark.range(20000).withColumnRenamed("id", "doc_id")
    out = hash_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.cnt for r in out.groupBy("split").agg(F.count("*").alias("cnt")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 20000 - 0.8) < 0.02
    assert abs(counts["val"] / 20000 - 0.1) < 0.02
    # layout-independence + stability: identical assignment under
    # repartition and rerun (the anti-randomSplit property)
    again = hash_split(df.repartition(13), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    a = {r.doc_id: r.split for r in out.collect()}
    b = {r.doc_id: r.split for r in again.collect()}
    assert a == b
    # a different seed deals a different (but still deterministic) hand
    other = hash_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7)
    assert {r.doc_id: r.split for r in other.collect()} != a
    import pytest as _pytest

    with _pytest.raises(ValueError):
        hash_split(df, "doc_id", {})


def test_stratified_sample_by_hash(spark):
    from dataworks_spark.llm.pipeline import stratified_sample_by_hash

    df = spark.range(30000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en").when(F.col("id") % 3 == 1, "de").otherwise("es").alias("lang"),
    )
    out = stratified_sample_by_hash(df, "lang", "doc_id", {"en": 0.5, "de": 0.1})
    counts = {r.lang: r.cnt for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert abs(counts["en"] / 10000 - 0.5) < 0.03
    assert abs(counts["de"] / 10000 - 0.1) < 0.03
    assert "es" not in counts  # default fraction 0
    # deterministic under layout: same kept set
    again = stratified_sample_by_hash(df.repartition(11), "lang", "doc_id", {"en": 0.5, "de": 0.1})
    assert sorted(r.doc_id for r in out.collect()) == sorted(r.doc_id for r in again.collect())


def test_select_token_budget(spark):
    """Budget selection keeps the highest-quality bins whose total
    tokens fit; the kept set is within one bin's mass of the budget and
    never exceeds it."""
    from dataworks_spark.llm.pipeline import select_token_budget

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") / 1000.0).alias("quality_score"),  # quality == rank
        F.lit(100).alias("n_tokens"),
    )
    out = select_token_budget(df, budget_tokens=10_000)  # fits 100 docs
    rows = out.collect()
    total = sum(r.n_tokens for r in rows)
    assert total <= 10_000
    assert total >= 10_000 - 100 * (1000 // 1000 + 1)  # within one bin
    # the kept docs are exactly the top-quality ones
    assert min(r.quality_score for r in rows) >= 0.89
    # determinism under layout
    again = select_token_budget(df.repartition(7), budget_tokens=10_000)
    assert sorted(r.doc_id for r in again.collect()) == sorted(r.doc_id for r in rows)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        select_token_budget(df, budget_tokens=0)


def test_sampling_guards_and_decorrelation(spark):
    """Review-pass regressions: composed split+sample must not be
    hash-correlated; weight order must not matter; null ids, NaN
    weights, and out-of-range quality must raise."""
    from dataworks_spark.llm.pipeline import (
        hash_split,
        select_token_budget,
        stratified_sample_by_hash,
    )

    df = spark.range(20000).withColumnRenamed("id", "doc_id")
    split = hash_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    # decorrelated streams: sampling 50% of the val split must return
    # ~50% of it, not the empty set a shared hash stream would produce
    val = split.filter(F.col("split") == "val")
    n_val = val.count()
    kept = stratified_sample_by_hash(val, "split", "doc_id", {"val": 0.5}).count()
    assert abs(kept / n_val - 0.5) < 0.05, f"{kept}/{n_val}"

    # weight-order canonicalization: same weights, different dict order,
    # identical assignment
    a = {r.doc_id: r.split for r in hash_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    b = {r.doc_id: r.split for r in hash_split(df, "doc_id", {"test": 0.1, "val": 0.1, "train": 0.8}).collect()}
    assert a == b

    import pytest as _pytest

    with _pytest.raises(ValueError, match="finite"):
        hash_split(df, "doc_id", {"train": float("nan")})
    nulls = spark.createDataFrame([(None,), (1,)], "doc_id int")
    with _pytest.raises(Exception, match="null id"):
        # two splits so the bucket (and its null guard) is evaluated;
        # a single-weight split is a constant and never hashes
        hash_split(nulls, "doc_id", {"train": 0.5, "val": 0.5}).collect()

    scored = df.select("doc_id", (F.col("doc_id") / 100.0).alias("quality_score"), F.lit(10).alias("n_tokens"))
    with _pytest.raises(ValueError, match="normalize"):
        select_token_budget(scored, budget_tokens=100)

    # NaN quality must raise, not silently drop: nan > 1.0 is False in
    # Python, so the old min/max range check let NaN scores through
    nan_scored = spark.createDataFrame(
        [(1, 0.5, 10), (2, float("nan"), 10)],
        "doc_id int, quality_score double, n_tokens int",
    )
    with _pytest.raises(ValueError, match="NaN"):
        select_token_budget(nan_scored, budget_tokens=100)


def test_ann_recall_at_10_vs_exact(spark, emb):
    """Recall gate for the rows-only ANN entries (VERDICT r4 item 4):
    partition invariance proves determinism, not QUALITY — this pins
    recall@10 of the LSH and IVF probes against the exact brute-force
    oracle over several fixture query vectors (everything is seeded and
    exact, so the measured recalls are deterministic constants).

    Fixture reality, measured: the embeddings are ISOTROPIC random
    (within-label mean cosine 0.023 vs cross-label 0.0017 — no cluster
    structure), and on structure-free vectors recall ≈ fraction of data
    scanned is the information-theoretic ceiling for ANY bucketing
    method. The gates therefore pin two properties that survive that
    regime and would catch a real regression:

    1. at high-scan settings the probes must converge on the exact
       answer (IVF 6-of-8 lists ≥ 0.9; combinatorial multi-probe LSH
       8-of-16 buckets ≥ 0.7 — measured 0.96 / 0.72);
    2. at pruning settings the probes must beat the random-scan
       baseline (recall ≥ its scanned fraction) — the signal that the
       buckets rank candidates better than chance even here (on
       clustered real embeddings the same operators prune far harder:
       IVF probe-1-of-8 already recalls 2× its scan fraction)."""
    from dataworks_spark.llm.similarity import (
        IvfIndex,
        LshIndex,
        brute_force_cosine_topk,
    )

    base = emb.filter(F.col("vec_id") >= 10)
    queries = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 5).orderBy("vec_id").collect()
    ]
    dim = len(queries[0])
    lsh = LshIndex(base, "embedding", dim=dim, n_planes=4)
    ivf = IvfIndex(base, "embedding", n_centroids=8)

    def ids(df):
        return {r["vec_id"] for r in df.select("vec_id").collect()}

    k = 10
    exacts = [
        ids(brute_force_cosine_topk(base, "embedding", q, k=k, id_cols=["vec_id"]))
        for q in queries
    ]

    def recall(idx, n_probe):
        hits = sum(
            len(ids(idx.topk(q, k=k, n_probe=n_probe, id_cols=["vec_id"])) & ex)
            for q, ex in zip(queries, exacts)
        )
        return hits / sum(len(ex) for ex in exacts)

    # 1. high-scan convergence gates
    assert recall(ivf, 6) >= 0.9, "IVF recall@10 at 6/8 lists regressed below 0.9"
    assert recall(lsh, 8) >= 0.7, "LSH recall@10 at 8/16 buckets regressed below 0.7"
    # 2. better-than-random-scan gates at pruning settings
    assert recall(ivf, 2) >= 2 / 8, "IVF probe ranking no better than random scan"
    assert recall(lsh, 4) >= 4 / 16, "LSH probe ranking no better than random scan"


def test_exact_dedup_keepers_matches_text_grouping(spark, docs):
    """The hash-keyed keeper set (16-byte shuffle rows) must equal the
    text-grouped keeper set on the fixture — the scale form trades a
    ~|distinct|²/2⁶⁵ collision chance for content-free shuffles."""
    from dataworks_spark.llm.dedup import exact_dedup, exact_dedup_keepers

    by_text = {r.keeper_id for r in exact_dedup(docs, "text", "doc_id").collect()}
    by_hash = {
        r.keeper_id for r in exact_dedup_keepers(docs, "text", "doc_id").collect()
    }
    assert by_text == by_hash


def test_decontaminate_removes_eval_overlap(spark):
    """Train docs sharing any word 5-gram with the eval set are removed
    (or flagged with mark_only); short docs (< n tokens) never match."""
    from dataworks_spark.llm.pipeline import decontaminate

    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "prefix words then the quick brown fox jumps over something else"),
            (2, "completely unrelated text with no overlapping phrases at all here"),
            (3, "tiny doc"),  # < 5 tokens: no shingles, never contaminated
        ],
        "doc_id long, text string",
    )
    clean = decontaminate(train, eval_df, ngram_n=5)
    assert sorted(r.doc_id for r in clean.collect()) == [2, 3]
    marked = decontaminate(train, eval_df, ngram_n=5, mark_only=True)
    flags = {r.doc_id: r.contaminated for r in marked.collect()}
    assert flags == {1: True, 2: False, 3: False}
    # layout invariance: same result after repartition
    again = decontaminate(train.repartition(7), eval_df, ngram_n=5)
    assert sorted(r.doc_id for r in again.collect()) == [2, 3]


def test_pack_sequences_budget_and_determinism(spark):
    """Every pack's token total stays within target + its last doc
    (greedy overrun bound); assignment is deterministic under layout."""
    from dataworks_spark.llm.pipeline import pack_sequences

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 37, F.lit(500)) + 1).alias("n_tokens"),
    )
    packed = pack_sequences(df, target_tokens=1000, lanes=8)
    rows = packed.collect()
    by_pack = {}
    for r in rows:
        by_pack.setdefault((r.pack_lane, r.pack_seq), []).append(r.n_tokens)
    for toks in by_pack.values():
        # exclusive-cumsum packing: total ≤ target + max single doc
        assert sum(toks) <= 1000 + 500
    # packs are filled, not degenerate singletons (mean fill > half)
    fills = [sum(t) for t in by_pack.values()]
    assert sum(fills) / len(fills) > 500
    again = {
        (r.doc_id): (r.pack_lane, r.pack_seq)
        for r in pack_sequences(df.repartition(13), target_tokens=1000, lanes=8).collect()
    }
    first = {r.doc_id: (r.pack_lane, r.pack_seq) for r in rows}
    assert first == again
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pack_sequences(df, target_tokens=0)
    nulls = spark.createDataFrame([(1, None)], "doc_id long, n_tokens int")
    with _pytest.raises(Exception, match="null n_tokens"):
        pack_sequences(nulls).collect()


def test_write_corpus_shards_layout(spark, tmp_path):
    """Sharded write: directory-partitioned, multiple hash-spread files
    per directory, round-trips the rows exactly."""
    from dataworks_spark.llm.pipeline import hash_split, write_corpus_shards

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("doc "), F.col("id")).alias("text")
    )
    split = hash_split(df, "doc_id", {"train": 0.9, "val": 0.1})
    out = str(tmp_path / "shards")
    write_corpus_shards(split, out, files_per_partition=4)
    import glob as _glob
    import os as _os

    dirs = sorted(
        _os.path.basename(p) for p in _glob.glob(f"{out}/split=*") if _os.path.isdir(p)
    )
    assert dirs == ["split=train", "split=val"]
    train_files = _glob.glob(f"{out}/split=train/*.parquet")
    assert 2 <= len(train_files) <= 8  # hash-spread, not one giant file
    back = spark.read.parquet(out)
    assert back.count() == 2000
    assert sorted(r.doc_id for r in back.collect()) == list(range(2000))


def test_bm25_ranks_rare_terms_higher(spark):
    """BM25 sanity on a controlled corpus: the document containing the
    rare query term outranks documents with only the common term; a
    document with no query term never appears; precomputed-stats path
    (the ingest-time split) returns identical scores."""
    from dataworks_spark.llm.retrieval import bm25_topk, corpus_term_stats

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log"),
        (3, "quantum cat physics"),   # rare term: quantum
        (4, "nothing relevant here at all"),
        (5, "the the the the the the the the"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(df, ["quantum", "the"], k=5).collect()
    ids = [r.doc_id for r in out]
    assert 4 not in ids                      # no query term → no row
    assert ids[0] == 3                       # rare-term doc wins
    # doc 5 spams "the": tf saturation (k1) must keep it from winning
    assert ids.index(5) > ids.index(3)
    stats = corpus_term_stats(df, ["quantum", "the"])
    again = bm25_topk(df, ["quantum", "the"], k=5, stats=stats).collect()
    assert [(r.doc_id, r.bm25) for r in again] == [(r.doc_id, r.bm25) for r in out]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="duplicate"):
        bm25_topk(df, ["the", "the"])
    with _pytest.raises(ValueError, match="non-empty"):
        bm25_topk(df, [])


def test_tfidf_vectors_shape_and_zeroes(spark):
    from dataworks_spark.llm.retrieval import tfidf_vectors

    rows = [(1, "alpha beta beta"), (2, "alpha gamma"), (3, "delta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.tfidf for r in tfidf_vectors(df, ["alpha", "beta"]).collect()}
    assert len(out) == 3 and all(len(v) == 2 for v in out.values())
    assert out[3] == [0.0, 0.0]              # no vocab terms → zero vector
    assert out[1][1] > out[1][0]             # beta: higher tf AND rarer
    assert out[2][1] == 0.0


def test_knn_join_matches_per_query_bruteforce(spark, emb):
    """knn_join = brute_force_cosine_topk run per query: same ids, same
    rounded scores, for every query vector."""
    from dataworks_spark.llm.similarity import brute_force_cosine_topk, knn_join

    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    got = knn_join(corpus, queries, "vec_id", "embedding", k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append((r.rank, r.vec_id, r.cos_sim))
    assert sorted(by_q) == [0, 1, 2]
    for q in by_q:
        qvec = [float(x) for x in emb.filter(F.col("vec_id") == q).first()["embedding"]]
        exact = brute_force_cosine_topk(
            corpus.select("vec_id", "embedding"),
            "embedding", qvec, k=5, id_cols=["vec_id"],
        ).collect()
        want_ids = [r.vec_id for r in exact]
        got_sorted = [v for _, v, _ in sorted(by_q[q])]
        assert got_sorted == want_ids, f"query {q}: {got_sorted} != {want_ids}"


def test_pack_sequences_id_mode_matches_manual(spark):
    """assign='id' packing equals the hand-computed running-total pack
    for a small corpus; invalid modes rejected."""
    import pytest as _pytest

    from dataworks_spark.llm.pipeline import pack_sequences

    rows = [(i, 10 * (i % 3 + 1)) for i in range(12)]  # tokens 10/20/30
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    out = {
        r.doc_id: (r.pack_lane, r.pack_seq)
        for r in pack_sequences(
            df, target_tokens=25, lanes=2, assign="id"
        ).collect()
    }
    # lane 0: ids 0,2,4,6,8,10 → tokens 10,30,20,10,30,20; exclusive
    # cums 0,10,40,60,70,100 → seqs 0,0,1,2,2,4
    assert [out[i] for i in (0, 2, 4, 6, 8, 10)] == [
        (0, 0), (0, 0), (0, 1), (0, 2), (0, 2), (0, 4)
    ]
    with _pytest.raises(ValueError, match="assign"):
        pack_sequences(df, assign="random")


def test_mix_corpus_proportions_and_upsampling(spark):
    """Domain mixing: no-upsample mode keeps the binding stratum whole
    and hits the target token shares within hash-sampling noise;
    total_tokens mode upsamples scarce strata via repeat epochs;
    guards fire on absent strata / bad weights."""
    import pytest as _pytest

    from dataworks_spark.llm.pipeline import mix_corpus

    rows = [(i, "a" if i < 800 else "b", 100) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens int")
    # a: 80k tokens, b: 20k. Targets 50/50 → binding stratum is b
    # (20k/0.5 = 40k < 80k/0.5): b keeps all, a keeps 20k/80k = 1/4.
    mixed = mix_corpus(df, "source", {"a": 0.5, "b": 0.5})
    by_src = {
        r["source"]: r["n"]
        for r in mixed.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by_src["b"] == 200                      # binding stratum: whole
    assert 170 <= by_src["a"] <= 230               # ~200 of 800 (hash noise)
    assert mixed.filter(F.col("epoch") != 0).count() == 0
    # determinism under layout: same rows after a repartition
    again = mix_corpus(df.repartition(13), "source", {"a": 0.5, "b": 0.5})
    assert sorted(r.doc_id for r in mixed.collect()) == sorted(
        r.doc_id for r in again.collect()
    )
    # explicit budget with upsampling: 50/50 of 80k tokens → b needs
    # 40k from its 20k → f=2.0 → every b doc appears exactly twice
    up = mix_corpus(df, "source", {"a": 0.5, "b": 0.5}, total_tokens=80_000)
    b_rows = up.filter(F.col("source") == "b")
    assert b_rows.count() == 400
    assert b_rows.groupBy("doc_id").count().filter(F.col("count") != 2).count() == 0
    assert set(r.epoch for r in b_rows.select("epoch").distinct().collect()) == {0, 1}
    with _pytest.raises(ValueError, match="not in corpus"):
        mix_corpus(df, "source", {"a": 0.5, "zzz": 0.5})
    with _pytest.raises(ValueError, match="positive"):
        mix_corpus(df, "source", {"a": -1.0})
    with _pytest.raises(ValueError, match="sample_mode"):
        mix_corpus(df, "source", {"a": 1.0}, sample_mode="random")
    with _pytest.raises(ValueError, match="repeat"):
        mix_corpus(df, "source", {"a": 0.5, "b": 0.5}, total_tokens=50_000_000)


def test_unigram_lm_scores_brute_force(spark):
    """Scores equal a driver-side reconstruction of the add-k unigram
    model, and a rare-token document scores more bits/token than one
    made of corpus-typical tokens."""
    import math

    from dataworks_spark.llm.text import unigram_lm_scores

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the rug"),
        (3, "zyx qwv jkl"),
        (4, "the the the the"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.dl, r.lm_bits_per_token)
        for r in unigram_lm_scores(df).collect()
    }
    cnt: dict = {}
    for _, t in docs:
        for tok in t.split(" "):
            cnt[tok] = cnt.get(tok, 0) + 1
    n, v, k = sum(cnt.values()), len(cnt), 0.5
    for i, t in docs:
        toks = t.split(" ")
        bits = [-math.log2((cnt[x] + k) / (n + k * v)) for x in toks]
        assert got[i][0] == len(toks)
        assert got[i][1] == round(sum(bits) / len(bits), 6)
    assert got[3][1] > got[1][1] > got[4][1]  # rare ≫ typical ≫ stereotyped


def test_chunk_documents_coverage_and_overlap(spark):
    """Every token lands in ≥1 chunk, consecutive chunks share exactly
    `overlap` tokens while a full window remains, chunk 0 starts at
    token 0, short docs yield one chunk, and guards reject bad args."""
    import pytest as _pytest

    from dataworks_spark.llm.pipeline import chunk_documents

    rows = [(i, " ".join(f"t{i}_{j}" for j in range(n)))
            for i, n in [(1, 10), (2, 4), (3, 1), (4, 9), (5, 13)]]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=4, overlap=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, text in rows:
        toks = text.split(" ")
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        # indexes are dense from 0; reconstruct each chunk directly
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        seen = []
        for k, c in enumerate(chunks):
            start = k * 2  # stride = 2
            want = toks[start:start + 4]
            assert c.chunk_text.split(" ") == want
            assert c.chunk_n_tokens == len(want)
            seen.extend(want)
        assert set(seen) == set(toks)            # full coverage
        # no chunk starts beyond n - overlap except the k=0 chunk
        assert all(k * 2 < max(len(toks) - 2, 1) or k == 0
                   for k in range(len(chunks)))
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=4, overlap=4)
    with _pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(df, chunk_tokens=0)


def test_mix_corpus_exact_tokens(spark):
    """exact_tokens mode equals the defining greedy-prefix semantics,
    reconstructed driver-side: per stratum, docs in (bucket, id) order
    get copies = full + [full·actual + cumsum ≤ target]. Checked for
    both budget modes under sample_mode='id' (bucket reproducible in
    Python), plus layout invariance and the hard-budget guarantee
    (kept mass within one doc of target) under the default hash mode."""
    from dataworks_spark.llm.pipeline import mix_corpus

    rows = [
        (i, "a" if i % 3 else "b", 37 + (i * 17) % 211) for i in range(900)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens int")
    tok = {i: t for i, _, t in rows}
    src = {i: s for i, s, _ in rows}
    bucket = lambda i: ((i % 1_000_000) * 2654435761) % 1_000_000  # noqa: E731

    def brute(weights, total_tokens=None):
        totals = {}
        for i in tok:
            if src[i] in weights:
                totals[src[i]] = totals.get(src[i], 0) + tok[i]
        if total_tokens is None:
            scale = min(totals[s] / weights[s] for s in weights)
            targets = {s: weights[s] * scale for s in weights}
        else:
            wsum = sum(weights[s] for s in sorted(weights))
            targets = {s: (weights[s] / wsum) * total_tokens for s in weights}
        out = {}
        for s in weights:
            full = int(targets[s] // totals[s])
            cum = 0
            for i in sorted(
                (i for i in tok if src[i] == s), key=lambda i: (bucket(i), i)
            ):
                cum += tok[i]
                out[i] = full + (1 if full * totals[s] + cum <= targets[s] else 0)
        return {i: c for i, c in out.items() if c > 0}

    for kwargs in ({}, {"total_tokens": 150_000}):
        got = {
            r["doc_id"]: r["n"]
            for r in mix_corpus(
                df, "source", {"a": 0.6, "b": 0.4},
                sample_mode="id", exact_tokens=True, **kwargs
            ).groupBy("doc_id").agg(F.count("*").alias("n")).collect()
        }
        assert got == brute({"a": 0.6, "b": 0.4}, kwargs.get("total_tokens"))
    # budget mode must actually upsample here: b has ~1/3 of the mass
    assert any(c > 1 for c in brute({"a": 0.6, "b": 0.4}, 150_000).values())
    # hash mode: layout invariance + the hard-budget guarantee
    m1 = mix_corpus(df, "source", {"a": 0.5, "b": 0.5}, exact_tokens=True)
    m2 = mix_corpus(
        df.repartition(17), "source", {"a": 0.5, "b": 0.5}, exact_tokens=True
    )
    assert sorted((r.doc_id, r.epoch) for r in m1.collect()) == sorted(
        (r.doc_id, r.epoch) for r in m2.collect()
    )
    mass = {
        r["source"]: r["t"]
        for r in m1.groupBy("source").agg(F.sum("n_tokens").alias("t")).collect()
    }
    tot_b = sum(t for i, t in tok.items() if src[i] == "b")
    target = min(
        sum(t for i, t in tok.items() if src[i] == "a") / 0.5, tot_b / 0.5
    ) * 0.5
    max_doc = max(tok.values())
    for s in ("a", "b"):
        assert mass[s] <= target and mass[s] > target - max_doc


def test_redact_pii_masks_and_counts(spark):
    """Every built-in pattern masks its shape, counts line up, clean
    text is idempotent under a second pass, and custom pattern sets
    override the defaults."""
    from dataworks_spark.llm.privacy import pii_counts, redact_pii

    rows = [
        (1, "write bob.smith+x@corp.example.org today"),
        (2, "call (555) 010-1234 or 555-010-9999 now"),
        (3, "ssn 123-45-6789 leaked from 192.168.1.200"),
        (4, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    counts = pii_counts(F.col("text"))
    out = df.select(
        "id",
        redact_pii(F.col("text")).alias("clean"),
        *[v.alias(k) for k, v in counts.items()],
    ).collect()
    by_id = {r.id: r for r in out}
    assert by_id[1].email == 1 and "@" not in by_id[1].clean
    assert by_id[2].phone == 2 and "555" not in by_id[2].clean
    assert by_id[3].ssn == 1 and by_id[3].ipv4 == 1
    assert "123-45-6789" not in by_id[3].clean and "192.168" not in by_id[3].clean
    assert by_id[4].clean == "nothing sensitive here"
    # idempotent: redacting clean text changes nothing
    again = (
        spark.createDataFrame([(r.id, r.clean) for r in out], "id long, text string")
        .select("id", redact_pii(F.col("text")).alias("clean2"))
        .collect()
    )
    assert {r.id: r.clean2 for r in again} == {r.id: r.clean for r in out}
    custom = df.select(
        redact_pii(F.col("text"), {"num": r"[0-9]+"}, token="#").alias("c")
    ).collect()
    assert all(not any(ch.isdigit() for ch in r.c) for r in custom)


def test_incremental_corpus_dedup_across_batches(spark, tmp_path):
    """Cross-batch exact dedup: in-batch dups collapse, previously
    ingested content is rejected, redelivery of a whole batch appends
    nothing (idempotent by value, no epoch ledger), and the hash-cache
    mirror stays consistent with the derived truth."""
    from dataworks_spark.llm.incremental import IncrementalCorpus, novel_rows

    corpus = IncrementalCorpus(
        spark, str(tmp_path / "corpus"), hash_cache_path=str(tmp_path / "hashes")
    )
    b1 = spark.createDataFrame(
        [(1, "alpha doc"), (2, "beta doc"), (3, "alpha doc")],  # 3 dups 1
        "doc_id long, text string",
    )
    assert corpus.ingest(b1) == 2
    assert sorted(r.doc_id for r in corpus.read().collect()) == [1, 2]
    b2 = spark.createDataFrame(
        [(4, "beta doc"), (5, "gamma doc")], "doc_id long, text string"
    )
    assert corpus.ingest(b2) == 1
    assert sorted(r.doc_id for r in corpus.read().collect()) == [1, 2, 5]
    # redelivery (at-least-once): absorbed, nothing appended
    assert corpus.ingest(b2) == 0
    assert corpus.read().count() == 3
    # hash-cache mirror == derived hash set; rebuild is a no-op change
    mirror = {r.content_hash for r in spark.read.parquet(str(tmp_path / "hashes")).collect()}
    derived = {
        r.h for r in corpus.read().select(F.xxhash64("text").alias("h")).collect()
    }
    assert mirror == derived
    corpus.rebuild_hash_cache()
    assert {
        r.content_hash
        for r in spark.read.parquet(str(tmp_path / "hashes")).collect()
    } == derived
    # novel_rows with no existing corpus = plain in-batch dedup
    assert novel_rows(b1, None).count() == 2


def test_incremental_corpus_streaming_ingest(spark, tmp_path):
    """The foreachBatch adapter dedups across real micro-batch epochs:
    two parquet drops with overlapping content, processed as separate
    epochs, land exactly once."""
    from dataworks_spark.llm.incremental import IncrementalCorpus

    src = tmp_path / "src"
    src.mkdir()
    corpus = IncrementalCorpus(spark, str(tmp_path / "corpus"))
    spark.createDataFrame(
        [(1, "doc one"), (2, "doc two")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    q = (
        stream.writeStream.foreachBatch(corpus.for_each_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert corpus.read().count() == 2
    # second drop: one dup of doc two, one novel
    spark.createDataFrame(
        [(9, "doc two"), (10, "doc three")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(str(src))
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(corpus.for_each_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {(r.doc_id, r.text) for r in corpus.read().collect()}
    assert rows == {(1, "doc one"), (2, "doc two"), (10, "doc three")}


def test_edit_distance_pairs_blocking_and_qgram_filter(spark):
    """Length-band blocking finds every true pair on a controlled set
    (verified against a driver-side brute force); the q-gram prefilter
    keeps the unique-gram pairs; short strings produce no grams."""
    import itertools

    from dataworks_spark.llm.dedup import edit_distance_pairs, shingle_char_hashes

    names = [
        (1, "jonathan smith"),
        (2, "jonathan smyth"),     # 1 sub
        (3, "jonathen smith jr"),  # too far from 1 (3 edits)
        (4, "jon smith"),
        (5, "completely other"),
        (6, "jonathan smithe"),    # 1 insert vs 1
        (7, "aaaaaaaaaa"),         # repetitive: multiset ≠ distinct grams
        (8, "aaaaaaaaab"),         # 1 sub vs 7; distinct-gram count would
                                   # undercount the Gravano bound here
        (9, "abcd"),               # short: shares ZERO 3-grams with 10
        (10, "axcd"),              # yet lev=1 — vacuous-bound bypass
    ]
    df = spark.createDataFrame(names, "id long, name string")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_pairs(df, "id", "name", max_dist=2).collect()
    }
    import pyspark.sql.functions  # noqa: F401 — keep module import local

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    want = {
        (a_id, b_id): lev(a, b)
        for (a_id, a), (b_id, b) in itertools.combinations(names, 2)
        if lev(a, b) <= 2
    }
    assert got == want
    # multiset q-gram prefilter is pure pruning: identical output on a
    # set that stresses both failure modes of weaker variants —
    # repetitive strings (distinct-gram counts undercount the bound)
    # and short strings (zero shared grams yet within max_dist, kept
    # only by the vacuous-bound bypass)
    assert (9, 10) in want and (7, 8) in want  # the stressors are live
    filtered = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_pairs(
            df, "id", "name", max_dist=2, qgram_filter=True
        ).collect()
    }
    assert filtered == want
    # guard: strings shorter than q yield an empty gram array, not junk
    short = spark.createDataFrame([("ab",)], "t string").select(
        F.size(shingle_char_hashes(F.col("t"), 3)).alias("n")
    ).first()
    assert short.n == 0


def test_pack_sequences_reconstruction_property(spark):
    """For random token distributions and BOTH assignment modes, the
    (lane, seq) Spark assigns equals a driver-side reconstruction from
    the mode's own ordering — i.e. pack_seq is exactly
    floor(exclusive-running-total / target) in every lane, every doc
    appears once, and the greedy bound (pack total minus its last doc
    < target) holds for every pack."""
    import random as _random

    from dataworks_spark.llm.pipeline import pack_sequences

    for seed_case in (0, 1):
        rng = _random.Random(seed_case)
        rows = [(i, rng.randint(1, 700)) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
        for mode in ("hash", "id"):
            packed = pack_sequences(
                df, target_tokens=1000, lanes=7, seed=42, assign=mode
            )
            # surface the mode's order key so the reconstruction uses
            # the engine's own hash values, not a python reimpl
            order_key = (
                F.xxhash64(F.lit(43), F.col("doc_id"))
                if mode == "hash"
                else F.col("doc_id")
            )
            got = packed.withColumn("ordkey", order_key).collect()
            assert len(got) == 300 and len({r.doc_id for r in got}) == 300
            lanes = {}
            for r in got:
                lanes.setdefault(r.pack_lane, []).append(r)
            for lane_rows in lanes.values():
                lane_rows.sort(key=lambda r: (r.ordkey, r.doc_id))
                cum = 0
                packs = {}
                for r in lane_rows:
                    assert r.pack_seq == cum // 1000, (mode, r)
                    cum += r.n_tokens
                    packs.setdefault(r.pack_seq, []).append(r.n_tokens)
                for toks in packs.values():
                    assert sum(toks) - toks[-1] < 1000


def test_knn_join_lsh_candidates_exact_scores(spark, emb):
    """ANN-composed batch kNN: results are a per-query subset of the
    brute-force join with IDENTICAL rounded scores; probing every
    bucket recovers the exact join verbatim."""
    from dataworks_spark.llm.similarity import LshIndex, knn_join, knn_join_lsh

    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    dim = len(emb.select("embedding").first()[0])
    idx = LshIndex(corpus, "embedding", dim, n_planes=4, cache=False)
    exact = {
        (r.q_id, r.vec_id): r.cos_sim
        for r in knn_join(corpus, queries, "vec_id", "embedding", k=5).collect()
    }
    approx = knn_join_lsh(idx, queries, "vec_id", k=5, n_probe=2).collect()
    assert approx, "probed buckets should hold candidates"
    full_scores = {
        (r.q_id, r.vec_id): r.cos_sim
        for r in knn_join(corpus, queries, "vec_id", "embedding", k=10**6).collect()
    }
    for r in approx:  # scores are true cosines even in the pruned search
        assert abs(full_scores[(r.q_id, r.vec_id)] - r.cos_sim) < 1e-9
    # n_probe = 2^planes degrades to the exact join
    everything = {
        (r.q_id, r.vec_id): r.cos_sim
        for r in knn_join_lsh(idx, queries, "vec_id", k=5, n_probe=16).collect()
    }
    assert everything == exact


def test_nan_and_zero_norm_vectors_never_rank(spark):
    """r15 guard, same class as the r14 pair-kernel NaN fix: Spark
    orders NaN ABOVE every double, so before the ~isnan filters a
    zero-norm corpus vector (0/0 = NaN cosine) or a NaN-poisoned
    embedding took rank 1 in EVERY query's top-k — in knn_join,
    knn_join_lsh, and brute_force_cosine_topk (the kernel LshIndex/
    IvfIndex.topk funnel through). Poisoned rows must rank NOWHERE,
    ranks stay contiguous, and an all-NaN scan (zero-norm QUERY
    vector) returns no rows rather than an arbitrary k."""
    from dataworks_spark.llm.similarity import LshIndex, knn_join, knn_join_lsh

    nan = float("nan")
    clean = [(i, [float(i + 1), 1.0, 0.0, 0.0]) for i in range(6)]
    poisoned = clean + [(90, [0.0] * 4), (91, [nan, nan, nan, nan])]
    corpus = spark.createDataFrame(poisoned, "vec_id long, embedding array<double>")
    clean_df = spark.createDataFrame(clean, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(0, [1.0, 0.5, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "q_id long, qvec array<double>",
    )
    got = knn_join(corpus, queries, "vec_id", "embedding", k=4).collect()
    want = knn_join(clean_df, queries, "vec_id", "embedding", k=4).collect()
    key = lambda r: (r.q_id, r.rank, r.vec_id, r.cos_sim)  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert not {r.vec_id for r in got} & {90, 91}
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4] for v in by_q.values())

    top = brute_force_cosine_topk(
        corpus, "embedding", [1.0, 0.0, 0.0, 0.0], k=4, id_cols=["vec_id"]
    ).collect()
    assert len(top) == 4 and not {r.vec_id for r in top} & {90, 91}
    empty = brute_force_cosine_topk(
        corpus, "embedding", [0.0] * 4, k=3, id_cols=["vec_id"]
    )
    assert empty.count() == 0

    # probed join, same rule (a NaN vector lands in bucket 0 — NaN > 0
    # is false for every hyperplane — and its NaN score is then dropped)
    idx = LshIndex(corpus, "embedding", 4, n_planes=4, cache=False)
    probed = knn_join_lsh(idx, queries, "vec_id", k=4, n_probe=16).collect()
    assert probed and not {r.vec_id for r in probed} & {90, 91}


def test_top_terms_vocabulary(spark):
    """top_terms: df-ordered, deterministic ties, min_df floor; feeds
    tfidf_vectors directly."""
    from dataworks_spark.llm.retrieval import tfidf_vectors, top_terms

    rows = [
        (1, "apple banana apple"),
        (2, "apple cherry"),
        (3, "apple banana"),
        (4, "durian"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = top_terms(df, n=3, min_df=2)
    assert vocab == ["apple", "banana", "cherry"] or vocab == ["apple", "banana"]
    # df counts are per-document (distinct per doc): apple=3, banana=2,
    # cherry=1 (dropped by min_df), durian=1 (dropped)
    assert top_terms(df, n=5, min_df=2) == ["apple", "banana"]
    vecs = tfidf_vectors(df, top_terms(df, n=5, min_df=2))
    assert vecs.count() == 4 and len(vecs.first()["tfidf"]) == 2


def test_dedup_spans_matches_bruteforce(spark):
    """Span dedup: first occurrence in (doc_id, span_idx) order wins
    corpus-wide, later occurrences (cross- AND within-doc) are cut,
    documents rebuild from surviving spans in original order."""
    from dataworks_spark.llm.pipeline import dedup_spans

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c x y z"),
            (3, "x y z"),
            (4, "d e f d e f"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_spans, r.n_spans_kept, r.text)
        for r in dedup_spans(df, span_tokens=3).collect()
    }
    assert got == {
        1: (2, 2, "a b c d e f"),
        2: (2, 1, "x y z"),
        3: (1, 0, ""),
        4: (2, 0, ""),
        5: (1, 1, ""),
    }


def test_dedup_spans_partition_invariance(spark, docs):
    """The survivor set is a total-order election — identical under any
    input partitioning; global span mass is conserved (every distinct
    span survives exactly once)."""
    from dataworks_spark.llm.pipeline import chunk_documents, dedup_spans

    a = dedup_spans(docs.repartition(1), span_tokens=8)
    b = dedup_spans(docs.repartition(16, "text"), span_tokens=8)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    n_distinct = (
        chunk_documents(docs, chunk_tokens=8, overlap=0)
        .select("chunk_text").distinct().count()
    )
    kept = a.agg(F.sum("n_spans_kept")).first()[0]
    assert kept == n_distinct


def test_semantic_dedup_single_cluster_equals_exact(spark, emb):
    """n_clusters=1 degenerates to the exhaustive kernel: identical
    pair set, identical cosines."""
    from dataworks_spark.llm.similarity import (
        cosine_pairs_above,
        semantic_dedup_pairs,
    )

    e = emb.filter(F.col("vec_id") < 150)
    exact = {
        (r.id_a, r.id_b): round(r.cos_sim, 6)
        for r in cosine_pairs_above(e, "vec_id", "embedding", 0.35, exact=True).collect()
    }
    sem = {
        (r.id_a, r.id_b): round(r.cos_sim, 6)
        for r in semantic_dedup_pairs(
            e, "vec_id", "embedding", 0.35, n_clusters=1
        ).collect()
    }
    assert sem == exact and exact


def test_semantic_dedup_precision_recall_and_invariance(spark, emb):
    """Clustered pairs are a strict SUBSET of the exhaustive pair set
    with identical cosines (precision 1 by construction); recall over
    the fixture's true pairs stays above the floor; the pair set is
    identical under repartitioning (deterministic centroids)."""
    from dataworks_spark.llm.similarity import (
        cosine_pairs_above,
        semantic_dedup_pairs,
    )

    e = emb.filter(F.col("vec_id") < 300)
    exact = {
        (r.id_a, r.id_b): round(r.cos_sim, 6)
        for r in cosine_pairs_above(e, "vec_id", "embedding", 0.35, exact=True).collect()
    }
    sem = {
        (r.id_a, r.id_b): round(r.cos_sim, 6)
        for r in semantic_dedup_pairs(
            e, "vec_id", "embedding", 0.35, n_clusters=8
        ).collect()
    }
    assert set(sem) <= set(exact)
    for pair, cos in sem.items():
        assert cos == exact[pair]
    assert exact, "fixture should contain cosine-similar pairs"
    assert sem, "clusters should retain some same-cluster pairs"
    again = {
        (r.id_a, r.id_b)
        for r in semantic_dedup_pairs(
            e.repartition(16, "label"), "vec_id", "embedding", 0.35, n_clusters=8
        ).collect()
    }
    assert again == set(sem)


def test_max_cluster_bounds_hot_semantic_cluster(spark):
    """r13 100 TB guard, cluster-keyed analog of
    test_max_bucket_caps_hot_lsh_buckets: a boilerplate family of 40
    near-identical embeddings lands in ONE k-means cluster and emits
    40·39/2 pairs — max_cluster splits the cluster into hash sub-shards
    so the pair space is bounded, while a small true-pair cluster is
    untouched. Capped output stays a subset of uncapped with identical
    cosines, and is invariant under repartitioning."""
    import numpy as np

    from dataworks_spark.llm.similarity import semantic_dedup_pairs

    rng = np.random.default_rng(5)
    base = rng.normal(size=16)
    other = rng.normal(size=16)
    rows = [(i, (base + 0.01 * rng.normal(size=16)).tolist()) for i in range(40)]
    rows += [(100, other.tolist()), (101, (other + 0.01 * rng.normal(size=16)).tolist())]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    kw = dict(threshold=0.9, n_clusters=2, seed=7)
    un = {
        (r.id_a, r.id_b): round(r.cos_sim, 6)
        for r in semantic_dedup_pairs(df, "vec_id", "embedding", **kw).collect()
    }
    cp = {
        (r.id_a, r.id_b): round(r.cos_sim, 6)
        for r in semantic_dedup_pairs(
            df, "vec_id", "embedding", max_cluster=10, **kw
        ).collect()
    }
    assert len(un) == 40 * 39 // 2 + 1  # family blowup + the true pair
    assert (100, 101) in un and (100, 101) in cp  # small cluster intact
    assert set(cp) <= set(un) and all(un[p] == c for p, c in cp.items())
    fam = [p for p in cp if p[0] < 100]
    # 4 hash sub-shards of ~10: pair space collapses toward |c|·cap/2
    assert 0 < len(fam) < 400
    # a cap >= every cluster size is the identity
    assert {
        (r.id_a, r.id_b)
        for r in semantic_dedup_pairs(
            df, "vec_id", "embedding", max_cluster=1000, **kw
        ).collect()
    } == set(un)
    # deterministic under repartitioning
    again = {
        (r.id_a, r.id_b)
        for r in semantic_dedup_pairs(
            df.repartition(16), "vec_id", "embedding", max_cluster=10, **kw
        ).collect()
    }
    assert again == set(cp)
    with pytest.raises(ValueError, match="max_cluster"):
        semantic_dedup_pairs(df, "vec_id", "embedding", max_cluster=0, **kw)


def test_semantic_dedup_accepts_pretrained_quantizer(spark, emb):
    """r13: passing ivf_train's own output as ``centroids`` must give
    the IDENTICAL pair set as internal training (same params/seed) —
    the train-once reuse shape q_semantic_dedup runs on — and a
    DIFFERENT quantizer is honored (not silently retrained)."""
    import numpy as np

    from dataworks_spark.llm.similarity import ivf_train, semantic_dedup_pairs

    e = emb.filter(F.col("vec_id") < 200)
    internal = {
        (r.id_a, r.id_b): round(r.cos_sim, 6)
        for r in semantic_dedup_pairs(
            e, "vec_id", "embedding", 0.35, n_clusters=4
        ).collect()
    }
    cents = ivf_train(e, "embedding", n_centroids=4)
    external = {
        (r.id_a, r.id_b): round(r.cos_sim, 6)
        for r in semantic_dedup_pairs(
            e, "vec_id", "embedding", 0.35, n_clusters=4, centroids=cents
        ).collect()
    }
    assert external == internal and internal
    # one centroid = the exhaustive kernel: every pair lands together
    one = semantic_dedup_pairs(
        e, "vec_id", "embedding", 0.35,
        centroids=np.ones((1, len(e.first()["embedding"]))),
    )
    assert one.count() >= len(internal)


def test_semantic_dedup_gram_scorer_pins_to_expression_kernel(spark, emb):
    """r14 (r13 VERDICT #2): the BLAS gram pair scorer (now the
    pandas-default) must be indistinguishable from the interpreted
    expression kernel — same id pairs, same cosines (round-9 digits),
    with and without max_cluster sub-sharding, under repartitioning,
    and on every edge the expression kernel nulls out: NULL vector,
    NaN-poisoned vector, length-mismatched vector, duplicate ids.
    Also: string ids round-trip through the declared output schema."""
    import numpy as np

    from dataworks_spark.llm.similarity import ivf_train, semantic_dedup_pairs

    e = emb.filter(F.col("vec_id") < 300)
    cents = ivf_train(e, "embedding", n_centroids=8)

    def key(df_):
        return sorted(
            (r.id_a, r.id_b, round(r.cos_sim, 9)) for r in df_.collect()
        )

    kw = dict(threshold=0.35, n_clusters=8, centroids=cents)
    expr = key(semantic_dedup_pairs(e, "vec_id", "embedding", scorer="expr", **kw))
    gram = key(semantic_dedup_pairs(e, "vec_id", "embedding", scorer="gram", **kw))
    assert gram == expr and expr
    capped_e = key(semantic_dedup_pairs(
        e, "vec_id", "embedding", scorer="expr", max_cluster=12, **kw))
    capped_g = key(semantic_dedup_pairs(
        e, "vec_id", "embedding", scorer="gram", max_cluster=12, **kw))
    assert capped_g == capped_e
    again = key(semantic_dedup_pairs(
        e.repartition(16, "label"), "vec_id", "embedding", scorer="gram", **kw))
    assert again == gram

    # edge rows: the expression kernel scores all of these to
    # null/NaN → dropped; gram must agree, not crash
    rng = np.random.default_rng(11)
    base = rng.normal(size=8).tolist()
    twin = (np.asarray(base) + 0.001 * rng.normal(size=8)).tolist()
    rows = [
        (1, base), (2, twin),
        (3, None),                      # NULL vector
        (4, [float("nan")] * 8),        # NaN-poisoned
        (5, base[:4]),                  # length mismatch
        (6, base), (6, twin),           # duplicate id: pairs with nothing
        (7, [0.0] * 8),                 # zero-norm: r15 s2 try_divide
        # makes this row REACHABLE (it used to ANSI-abort at
        # normalization) — its unit vector is all-NULL and both
        # kernels must drop it, not crash on the None elements
    ]
    edge = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ek = dict(threshold=0.9, centroids=np.ones((1, 8)))
    edge_expr = key(semantic_dedup_pairs(edge, "vec_id", "embedding",
                                         scorer="expr", **ek))
    edge_gram = key(semantic_dedup_pairs(edge, "vec_id", "embedding",
                                         scorer="gram", **ek))
    assert edge_gram == edge_expr
    pair_ids = {(a, b) for a, b, _ in edge_gram}
    assert (1, 2) in pair_ids
    assert all(
        3 not in p and 4 not in p and 5 not in p and 7 not in p
        for p in pair_ids
    )
    # duplicate id 6 still pairs with OTHER ids, never itself
    assert (6, 6) not in pair_ids
    # the exact kernel shares the drop-NaN fix (Spark orders NaN above
    # every double — a bare >= filter passed NaN scores, pairing one
    # corrupt embedding with everything)
    from dataworks_spark.llm.similarity import cosine_pairs_above

    exact_ids = {
        (r.id_a, r.id_b)
        for r in cosine_pairs_above(
            edge, "vec_id", "embedding", threshold=0.9, exact=True
        ).collect()
    }
    assert all(
        3 not in p and 4 not in p and 5 not in p and 7 not in p
        for p in exact_ids
    )
    assert (1, 2) in exact_ids

    # string ids: output schema follows the id column's type
    s = spark.createDataFrame(
        [("a", base), ("b", twin), ("c", (-np.asarray(base)).tolist())],
        "doc string, embedding array<double>",
    )
    got = semantic_dedup_pairs(s, "doc", "embedding", scorer="gram", **ek)
    assert got.schema["id_a"].dataType.simpleString() == "string"
    assert {(r.id_a, r.id_b) for r in got.collect()} == {("a", "b")}

    with pytest.raises(ValueError, match="scorer"):
        semantic_dedup_pairs(e, "vec_id", "embedding", 0.35, scorer="nope")


def test_semantic_dedup_keepers_min_label(spark, emb):
    """Keeper labeling: every component's label is its min member id,
    and membership matches the pair graph's connectivity."""
    from dataworks_spark.llm.similarity import (
        semantic_dedup_keepers,
        semantic_dedup_pairs,
    )

    e = emb.filter(F.col("vec_id") < 300)
    pairs = semantic_dedup_pairs(e, "vec_id", "embedding", 0.35, n_clusters=8)
    comp = {}

    def find(x):
        while comp.get(x, x) != x:
            comp[x] = comp.get(comp[x], comp[x])
            x = comp[x]
        return x

    for r in pairs.collect():
        ra, rb = find(r.id_a), find(r.id_b)
        if ra != rb:
            comp[max(ra, rb)] = min(ra, rb)
    want = {}
    for node in set(comp) | {v for v in comp.values()}:
        want.setdefault(node, find(node))
    got = {
        r.id: r.cluster
        for r in semantic_dedup_keepers(
            e, "vec_id", "embedding", 0.35, n_clusters=8
        ).collect()
    }
    assert got == {k: find(k) for k in got}
    assert set(got) == set(want)


def test_semantic_dedup_recall_on_planted_duplicates(spark):
    """The regime SemDeDup targets: groups of near-identical vectors
    (cos ≈ 0.99). Same-group members land in the same k-means cluster,
    so within-cluster compare recalls ~all true duplicate pairs even
    with many clusters. (The documents fixture tops out at cos 0.48 —
    no true semantic dups — hence this planted set.)"""
    import numpy as np

    from dataworks_spark.llm.similarity import (
        cosine_pairs_above,
        semantic_dedup_pairs,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 16))
    rows = []
    vid = 0
    for g in range(40):
        for _ in range(3):
            v = base[g] + rng.normal(scale=0.01, size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r.id_a, r.id_b)
        for r in cosine_pairs_above(df, "vec_id", "embedding", 0.95, exact=True).collect()
    }
    assert len(exact) >= 100, "planted groups must produce dup pairs"
    sem = {
        (r.id_a, r.id_b)
        for r in semantic_dedup_pairs(
            df, "vec_id", "embedding", 0.95, n_clusters=8, sample=120
        ).collect()
    }
    recall = len(sem & exact) / len(exact)
    assert recall >= 0.95, f"planted-dup recall {recall} over {len(exact)} pairs"


def test_decontaminate_bloom_prefilter_equals_exact(spark):
    """The Bloom tier is a pure work-pruner: flagged docs re-verify
    through the exact semi-join, so the final keep set is byte-equal to
    the exact path at ANY false-positive rate (even an absurdly lossy
    one), and mark_only flags match too."""
    from dataworks_spark.llm.pipeline import decontaminate

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (3, "the quick brown fox jumps over dogs"),
            (4, "alpha beta gamma delta epsilon other"),
            (5, "short text"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "xx alpha beta gamma delta epsilon yy")],
        "doc_id long, text string",
    )
    exact = sorted(r.doc_id for r in decontaminate(train, ev).collect())
    for fpp in (1e-6, 0.5):
        bloom = sorted(
            r.doc_id for r in decontaminate(train, ev, bloom_fpp=fpp).collect()
        )
        assert bloom == exact, f"fpp={fpp}"
    marked = {
        r.doc_id: r.contaminated
        for r in decontaminate(train, ev, mark_only=True, bloom_fpp=1e-3).collect()
    }
    assert marked == {1: True, 2: False, 3: False, 4: True, 5: False}


def test_dedup_spans_separator_mode(spark):
    """sep= switches the span unit to natural boundaries (paragraphs);
    surviving spans rejoin with the separator."""
    from dataworks_spark.llm.pipeline import dedup_spans

    df = spark.createDataFrame(
        [
            (1, "intro para\n\nshared license block\n\nbody one"),
            (2, "shared license block\n\nbody two"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_spans, r.n_spans_kept, r.text)
        for r in dedup_spans(df, sep="\n\n").collect()
    }
    assert got == {
        1: (3, 3, "intro para\n\nshared license block\n\nbody one"),
        2: (2, 1, "body two"),
    }


def test_ivf_distributed_refinement_recovers_planted_clusters(spark):
    """Full-table Lloyd refinement: deterministic under repartitioning
    (every round is a partitioning-invariant aggregate) and recovers
    well-separated planted blobs — each true center maps to a distinct
    learned centroid with high cosine."""
    import numpy as np

    from dataworks_spark.llm.similarity import ivf_build_centroids_distributed

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(4, 16)) * 10.0
    rows = [
        (i, [float(x) for x in centers[i % 4] + rng.normal(size=16)])
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c1 = ivf_build_centroids_distributed(
        df, "embedding", n_centroids=4, iterations=3, sample=64, seed=1
    )
    c2 = ivf_build_centroids_distributed(
        df.repartition(13), "embedding", n_centroids=4, iterations=3, sample=64, seed=1
    )
    assert np.allclose(c1, c2)

    from dataworks_spark.llm.similarity import ivf_build_centroids

    init = ivf_build_centroids(df, "embedding", n_centroids=4, sample=64, seed=1)
    x = np.array([r[1] for r in rows])
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)

    def quantization(cents):
        cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        return float((xn @ cn.T).max(axis=1).mean())  # mean best-cosine

    # full-table spherical-Lloyd rounds must not quantize worse than
    # the sample-only init (they see 400 rows, the init saw 64); the
    # absolute floor pins the cover quality. (Perfect blob recovery is
    # NOT asserted — k-means keeps its init's local optimum, and this
    # seed's init splits one blob; Lloyd cannot un-split it.)
    assert quantization(c1) >= quantization(init) - 1e-9
    assert quantization(c1) > 0.88


def test_undefined_vectors_never_train_the_quantizer(spark):
    """r15 guard (same class as the r14/r15 NaN-ranking fixes):
    undefined vectors — NULL, NaN-poisoned, zero-norm, ragged — must
    not VOTE on centroids. Before the _defined_vector filters, one NaN
    row turned a centroid mean NaN (avg skips only NULLs), and since
    Spark/numpy treat NaN as the maximum score, the NEXT epoch
    assigned every row to the poisoned cluster — total quantizer
    collapse; a ragged row ANSI-aborted the per-dimension getItem
    aggregates outright. Pins: poisoned-corpus training is BITWISE the
    clean-corpus training (driver sample and distributed refinement),
    and an all-poisoned corpus raises, never trains junk."""
    import numpy as np

    from dataworks_spark.llm.similarity import (
        ivf_build_centroids,
        ivf_build_centroids_distributed,
    )

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(4, 16)) * 10.0
    clean = [
        (i, [float(x) for x in centers[i % 4] + rng.normal(size=16)])
        for i in range(400)
    ]
    nan = float("nan")
    bad_sql = [
        (900, None),                      # NULL vector
        (901, [nan] * 16),                # NaN-poisoned
        (902, [0.0] * 16),                # zero-norm → NaN at normalize
    ]
    bad_ragged = [
        (903, [1.0, 2.0]),                # ragged (wrong dim)
        (904, [1.0] * 16 + [5.0]),        # ragged (too long)
    ]
    schema = "vec_id long, embedding array<double>"
    df_clean = spark.createDataFrame(clean, schema)
    df_poisoned = spark.createDataFrame(clean + bad_sql, schema)

    # NULL/NaN/zero-norm are excluded IN SQL, before the hash-smallest
    # sample — they don't even consume sample slots, so training is
    # BITWISE the clean corpus's
    want = ivf_build_centroids(df_clean, "embedding", n_centroids=4, sample=64, seed=1)
    got = ivf_build_centroids(df_poisoned, "embedding", n_centroids=4, sample=64, seed=1)
    assert np.array_equal(want, got) and np.isfinite(got).all()

    want_d = ivf_build_centroids_distributed(
        df_clean, "embedding", n_centroids=4, iterations=2, sample=64, seed=1
    )
    got_d = ivf_build_centroids_distributed(
        df_poisoned, "embedding", n_centroids=4, iterations=2, sample=64, seed=1
    )
    assert np.array_equal(want_d, got_d) and np.isfinite(got_d).all()

    # ragged rows can't be SQL-excluded before the dim is known (that
    # would cost a full-scan aggregate); they may consume a sample slot
    # but are dropped driver-side against the sample's majority length,
    # so training still completes finite (a ragged row previously
    # crashed np.array on inhomogeneous shapes, and the refinement's
    # getItem aggregates under ANSI) — and the refinement rounds, where
    # the dim IS known, exclude them in SQL
    df_ragged = spark.createDataFrame(clean + bad_sql + bad_ragged, schema)
    got_r = ivf_build_centroids(df_ragged, "embedding", n_centroids=4, sample=64, seed=1)
    assert got_r.shape == want.shape and np.isfinite(got_r).all()
    got_rd = ivf_build_centroids_distributed(
        df_ragged, "embedding", n_centroids=4, iterations=2, sample=64, seed=1
    )
    assert got_rd.shape == want_d.shape and np.isfinite(got_rd).all()

    # all-undefined corpus refuses (ragged rows are NOT in this frame:
    # a corpus whose only defined rows are dim-2 vectors legitimately
    # trains dim-2 centroids — raggedness is relative to the majority)
    all_bad = spark.createDataFrame(bad_sql, schema)
    with pytest.raises(ValueError, match="no defined"):
        ivf_build_centroids(all_bad, "embedding", n_centroids=2, sample=8, seed=1)


def test_chunk_and_span_null_text(spark):
    """NULL text behaves as '' in both operators: one empty chunk with
    an honest token count, and sep-mode keeps the document (posexplode
    of a NULL array would silently drop it)."""
    from dataworks_spark.llm.pipeline import chunk_documents, dedup_spans

    df = spark.createDataFrame([(1, None), (2, "a b c")], "doc_id long, text string")
    chunks = {
        (r.doc_id, r.chunk_idx): (r.chunk_text, r.chunk_n_tokens)
        for r in chunk_documents(df, chunk_tokens=2).collect()
    }
    assert chunks[(1, 0)] == ("", 1)  # one empty token, not a phantom 2
    assert chunks[(2, 0)] == ("a b", 2) and chunks[(2, 1)] == ("c", 1)
    by_mode = {}
    for mode, kw in (("win", dict(span_tokens=2)), ("sep", dict(sep="\n\n"))):
        by_mode[mode] = {r.doc_id for r in dedup_spans(df, **kw).collect()}
    assert by_mode["win"] == {1, 2} and by_mode["sep"] == {1, 2}


# ---------------------------------------------------------------------------
# classifier_score (hashed linear quality model)
# ---------------------------------------------------------------------------


def test_classifier_score_empty_and_null_text(spark):
    from dataworks_spark.llm.classify import classifier_score, default_hash_weights

    df = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, None), (4, "   ")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in classifier_score(df, default_hash_weights(spark), bias=0.0).collect()
    }
    assert set(out) == {1, 2, 3, 4}  # scoring never drops documents
    for d in (2, 3, 4):  # tokenless docs score sigmoid(bias) = 0.5
        assert out[d].n_tokens == 0
        assert out[d].quality_score == 0.5
    assert out[1].n_tokens == 2
    assert 0.0 < out[1].quality_score < 1.0


def test_classifier_score_pluggable_weights(spark):
    """A trained model is just a different (bucket_hex, weight) table:
    all-positive weights must push every scored doc above 0.5, and an
    EMPTY weights table (nothing trained) scores exactly sigmoid(bias)."""
    from dataworks_spark.llm.classify import classifier_score, token_buckets

    df = spark.createDataFrame([(1, "a b c"), (2, "d e")], "doc_id long, text string")
    pos = df.select(F.explode(token_buckets(F.col("text"))).alias("bucket_hex")).distinct()
    pos = pos.withColumn("weight", F.lit(2.0))
    out = {r.doc_id: r.quality_score for r in classifier_score(df, pos).collect()}
    assert all(s > 0.5 for s in out.values())

    empty = pos.filter(F.lit(False))
    out0 = {r.doc_id: r.quality_score for r in classifier_score(df, empty, bias=1.0).collect()}
    import math

    expect = round(1.0 / (1.0 + math.exp(-1.0)), 6)
    assert all(s == expect for s in out0.values())


def test_classifier_bucket_determinism(spark):
    """md5-prefix bucketing is content-determined: the same token in
    two different rows/partitions lands in the same bucket."""
    from dataworks_spark.llm.classify import token_buckets

    df = spark.createDataFrame([("alpha beta",), ("beta gamma",)], "text string")
    rows = df.select(F.explode(token_buckets(F.col("text"))).alias("b")).collect()
    df2 = df.repartition(7)
    rows2 = df2.select(F.explode(token_buckets(F.col("text"))).alias("b")).collect()
    assert sorted(r.b for r in rows) == sorted(r.b for r in rows2)
    assert all(len(r.b) == 3 for r in rows)


# ---------------------------------------------------------------------------
# winnowing fingerprints / local-overlap pairs
# ---------------------------------------------------------------------------


def test_winnow_guarantee_shared_run(spark):
    """The winnowing guarantee: two docs sharing a run of at least
    window + shingle_n − 1 tokens share ≥1 selected fingerprint."""
    from dataworks_spark.llm.dedup import winnow_overlap_pairs

    shared = "q w e r t y u i"  # 8 tokens ≥ 4 + 4 − 1
    df = spark.createDataFrame(
        [
            (1, "aa bb cc " + shared + " dd ee"),
            (2, "zz yy " + shared + " xx ww vv"),
            (3, "mm nn oo pp qq rr ss tt uu"),  # no shared run
        ],
        "doc_id long, text string",
    )
    pairs = winnow_overlap_pairs(df, min_shared=1).collect()
    assert {(p.doc_a, p.doc_b) for p in pairs} == {(1, 2)}


def test_winnow_short_and_null_texts(spark):
    from dataworks_spark.llm.dedup import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "a b c d"), (4, "a b c d e f g h")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id", F.size(winnow_fingerprints(F.col("text"))).alias("n")
        ).collect()
    }
    assert out[1] == 0  # < shingle_n tokens → no shingles
    assert out[2] in (0, -1)  # NULL text → empty (size of null array is -1)
    assert out[3] == 1  # one shingle → its own min
    assert 1 <= out[4] <= 5  # 5 shingles, window 4 → ≤ 2 windows


def test_winnow_max_df_drops_boilerplate(spark):
    """A fingerprint appearing in more than max_df docs emits no pairs."""
    from dataworks_spark.llm.dedup import winnow_overlap_pairs

    common = "s1 s2 s3 s4 s5 s6 s7 s8"
    rows = [(i, f"u{i}a u{i}b " + common) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    allp = winnow_overlap_pairs(df, min_shared=1, max_df=50).count()
    none = winnow_overlap_pairs(df, min_shared=1, max_df=3).count()
    assert allp == 15  # C(6,2): every pair shares the common run
    assert none == 0  # df=6 > max_df=3 → boilerplate dropped


def test_winnow_max_df_bounds_hot_fingerprint_family(spark):
    """r14 (r13 VERDICT #4) — the planted-skew anchor the dedup guards
    got, for the winnowing pair kernel: a boilerplate family of 40
    docs shares one paragraph, flooding its fingerprints (df=40 →
    C(40,2)=780 pairs through the hub), while one genuine plagiarism
    pair shares a rare passage (df=2). A df-cap below the family's df
    bounds the pair kernel (SIGMOD'03's own boilerplate rule): family
    pairs vanish, the true pair survives with its n_shared intact,
    capped output is a subset of uncapped, and the selection is
    partition-invariant."""
    from dataworks_spark.llm.dedup import winnow_overlap_pairs

    boiler = " ".join(f"b{j}" for j in range(16))
    passage = " ".join(f"p{j}" for j in range(16))
    rows = [(i, f"u{i}x u{i}y u{i}z " + boiler) for i in range(40)]
    rows += [
        (100, "aaa bbb ccc " + passage),
        (101, "ddd eee fff " + passage + " ggg"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    un = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in winnow_overlap_pairs(df, max_df=50).collect()
    }
    cp = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in winnow_overlap_pairs(df, max_df=10).collect()
    }
    assert len(un) >= 40 * 39 // 2  # the hub blowup, un-capped
    assert (100, 101) in un and (100, 101) in cp
    assert cp[(100, 101)] == un[(100, 101)]  # rare-passage fps untouched
    assert all(p == (100, 101) for p in cp), cp  # family pairs gone
    assert set(cp) <= set(un)
    again = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in winnow_overlap_pairs(df.repartition(16), max_df=10).collect()
    }
    assert again == cp


def test_contamination_report_bounded_under_hot_shingle(spark):
    """r14 (r13 VERDICT #4), contamination side: a shingle present in
    EVERY training doc (boilerplate flood) must not multiply the
    report — matched (eval_id, shingle) pairs deduplicate before the
    count, so n_hit counts DISTINCT eval shingles hit, never train
    occurrences. The shuffle stays ≤ |eval shingles| whatever the
    train-side df."""
    from dataworks_spark.llm.pipeline import contamination_report

    passage = " ".join(f"s{j}" for j in range(9))  # 5 distinct 5-grams
    train = spark.createDataFrame(
        [(1000 + i, f"t{i}a t{i}b " + passage) for i in range(200)],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(1, passage + " q1 q2 q3 q4 q5")], "doc_id long, text string"
    )
    row = contamination_report(train, ev).first()
    # eval text has 14 tokens → 10 distinct 5-grams; exactly the 5
    # passage-internal grams appear in training (each in all 200 docs)
    assert row.n_grams == 10
    assert row.n_hit == 5  # not 5 × 200
    assert row.contamination == 0.5


def test_winnow_partition_invariance(docs):
    from dataworks_spark.llm.dedup import winnow_overlap_pairs

    a = sorted(
        (r.doc_a, r.doc_b, r.n_shared) for r in winnow_overlap_pairs(docs).collect()
    )
    b = sorted(
        (r.doc_a, r.doc_b, r.n_shared)
        for r in winnow_overlap_pairs(docs.repartition(13)).collect()
    )
    assert a == b and len(a) > 0


def test_classifier_expr_equals_relational(spark, docs):
    """The zero-shuffle expression form and the broadcast-join form are
    the same model: identical scores on the real fixture."""
    from dataworks_spark.llm.classify import (
        classifier_score,
        classifier_score_expr,
        collect_weights_array,
        default_hash_weights,
    )

    w = default_hash_weights(spark)
    rel = {
        r.doc_id: r.quality_score
        for r in classifier_score(docs, w, bias=0.25).collect()
    }
    arr = collect_weights_array(w)
    ex = {
        r.doc_id: r.s
        for r in docs.select(
            "doc_id",
            classifier_score_expr(F.col("text"), arr, bias=0.25).alias("s"),
        ).collect()
    }
    assert rel == ex and len(rel) > 0


def test_prepare_corpus_model_tier(spark, docs):
    """model_weights adds a model_score column inside the fused
    projection; min_model_score filters on it; omitting both leaves the
    baseline pipeline untouched."""
    from dataworks_spark.llm.classify import collect_weights_array, default_hash_weights
    from dataworks_spark.llm.pipeline import CorpusConfig, prepare_corpus

    arr = tuple(collect_weights_array(default_hash_weights(spark)))
    base_cfg = CorpusConfig(near_dup=False)
    base = prepare_corpus(docs, config=base_cfg)
    assert "model_score" not in base.columns

    scored = prepare_corpus(
        docs, config=CorpusConfig(near_dup=False, model_weights=arr)
    )
    assert "model_score" in scored.columns
    assert scored.count() == base.count()  # scoring alone drops nothing

    med = scored.approxQuantile("model_score", [0.5], 0.0)[0]
    cut = prepare_corpus(
        docs,
        config=CorpusConfig(near_dup=False, model_weights=arr, min_model_score=med),
    )
    n_cut, n_all = cut.count(), scored.count()
    assert 0 < n_cut < n_all
    assert cut.filter(F.col("model_score") < med).count() == 0


def test_incremental_corpus_passage_overlap_gate(spark, tmp_path):
    """min_shared_fps rejects a batch doc that QUOTES a stored passage
    even though its content hash is new; unrelated docs pass; the fp
    mirror stays consistent with the derived fingerprint set."""
    from dataworks_spark.llm.dedup import winnow_fingerprints
    from dataworks_spark.llm.incremental import IncrementalCorpus

    corpus = IncrementalCorpus(
        spark,
        str(tmp_path / "corpus"),
        fp_cache_path=str(tmp_path / "fps"),
        min_shared_fps=2,
    )
    passage = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11 p12"
    b1 = spark.createDataFrame(
        [(1, "intro words " + passage + " outro words")],
        "doc_id long, text string",
    )
    assert corpus.ingest(b1) == 1
    b2 = spark.createDataFrame(
        [
            (2, "fresh framing " + passage + " different ending"),  # quotes it
            (3, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"),  # unrelated
        ],
        "doc_id long, text string",
    )
    assert corpus.ingest(b2) == 1
    assert sorted(r.doc_id for r in corpus.read().collect()) == [1, 3]
    # mirror == derived fingerprint set after both ingests
    mirror = {r.fp for r in spark.read.parquet(str(tmp_path / "fps")).collect()}
    derived = {
        r.fp
        for r in corpus.read()
        .select(F.explode(winnow_fingerprints(F.col("text"))).alias("fp"))
        .collect()
    }
    assert mirror == derived
    # rebuild path covers the fp mirror too
    corpus.rebuild_hash_cache()
    assert {
        r.fp for r in spark.read.parquet(str(tmp_path / "fps")).collect()
    } == derived


def test_contamination_report_edges(spark):
    """Full containment = 1.0; disjoint = 0.0; an eval doc shorter than
    the shingle width reports 0/0 → contamination 0.0, never vanishes."""
    from dataworks_spark.llm.pipeline import contamination_report

    train = spark.createDataFrame(
        [(10, "a b c d e f g h"), (11, "z1 z2 z3 z4 z5 z6")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "q r s t u v"), (3, "too short")],
        "doc_id long, text string",
    )
    out = {r.eval_id: r for r in contamination_report(train, ev).collect()}
    assert out[1].n_grams == 2 and out[1].n_hit == 2 and out[1].contamination == 1.0
    assert out[2].n_grams == 2 and out[2].n_hit == 0 and out[2].contamination == 0.0
    assert out[3].n_grams == 0 and out[3].n_hit == 0 and out[3].contamination == 0.0


def test_classifier_expr_null_and_empty_text(spark):
    """Expression form mirrors the relational form's no-token rule:
    NULL/empty/whitespace text scores exactly sigmoid(bias)."""
    import math

    from dataworks_spark.llm.classify import classifier_score_expr

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "hello")],
        "doc_id long, text string",
    )
    arr = [0.5] * 4096
    out = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", classifier_score_expr(F.col("text"), arr, bias=1.0).alias("s")
        ).collect()
    }
    base = round(1.0 / (1.0 + math.exp(-1.0)), 6)
    assert out[1] == base and out[2] == base and out[3] == base
    assert out[4] == round(1.0 / (1.0 + math.exp(-1.5)), 6)


def test_weights_from_terms_collision_sum(spark):
    from dataworks_spark.llm.classify import token_buckets, weights_from_terms

    terms = spark.createDataFrame(
        [("Alpha", 1.0), ("alpha", 2.0), ("beta", 5.0)], "term string, weight double"
    )
    w = weights_from_terms(terms)
    rows = {r.bucket_hex: r.weight for r in w.collect()}
    # case-folded duplicates hash to one bucket and SUM
    bucket_alpha = (
        spark.createDataFrame([("alpha",)], "text string")
        .select(F.explode(token_buckets(F.col("text"))).alias("b"))
        .first()["b"]
    )
    assert rows[bucket_alpha] == 3.0
    assert len(rows) == 2


def test_train_classifier_separates_planted_classes(spark):
    """Full-batch GD on hashed buckets separates two disjoint-vocabulary
    classes on the training set, deterministically under repartition."""
    from dataworks_spark.llm.classify import classifier_score_expr, train_classifier

    rows = []
    for i in range(60):
        good = i % 2 == 0
        vocab = ["g1", "g2", "g3", "g4"] if good else ["b1", "b2", "b3", "b4"]
        toks = [vocab[(i + j) % 4] for j in range(8)]
        rows.append((i, " ".join(toks), 1 if good else 0))
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    # rounds=6 (r16 suite-wallclock, r15 VERDICT #1): disjoint vocab
    # separates fully by round 4 (measured acc=1.0) — every assertion
    # below is unchanged; each GD round is one Spark job, and the
    # former 12+12 rounds were ~2 min of pure job floor on this test
    w, b = train_classifier(df, "label", rounds=6, lr=4.0)
    scored = df.select(
        "label",
        classifier_score_expr(F.col("text"), w, bias=b).alias("s"),
    ).collect()
    acc = sum(1 for r in scored if (r.s >= 0.5) == (r.label == 1)) / len(scored)
    assert acc >= 0.95
    # layout-independence up to float-sum reassociation (full-batch
    # GD: no SGD order-dependence; the gradient SUM may reassociate)
    w2, b2 = train_classifier(df.repartition(7), "label", rounds=6, lr=4.0)
    assert abs(b - b2) < 1e-9
    assert max(abs(a - c) for a, c in zip(w, w2)) < 1e-9


def test_bucket_by_score_modes(spark, docs):
    from dataworks_spark.llm.pipeline import bucket_by_score

    ex = bucket_by_score(docs, "n_chars", n_buckets=3, exact=True)
    counts = {r.score_bucket: r.n for r in ex.groupBy("score_bucket").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(counts.values())
    assert set(counts) == {0, 1, 2}
    # terciles: each bucket within a loose band of a third (ties skew)
    assert all(0.15 * total < c < 0.55 * total for c in counts.values())

    lbl = bucket_by_score(docs, "n_chars", n_buckets=3, labels=("tail", "middle", "head"))
    assert {r.score_bucket for r in lbl.select("score_bucket").distinct().collect()} == {
        "tail", "middle", "head"
    }

    # approx sketch mode: same buckets at this scale for most rows
    ap = bucket_by_score(docs, "n_chars", n_buckets=3, exact=False)
    joined = (
        ex.select("doc_id", F.col("score_bucket").alias("b1"))
        .join(ap.select("doc_id", F.col("score_bucket").alias("b2")), "doc_id")
    )
    agree = joined.filter(F.col("b1") == F.col("b2")).count() / joined.count()
    assert agree > 0.95

    with pytest.raises(ValueError):
        bucket_by_score(docs, "n_chars", n_buckets=1)
    with pytest.raises(ValueError):
        bucket_by_score(docs, "n_chars", n_buckets=3, labels=("a", "b"))


# ---------------------------------------------------------------------------
# real multimodal decode (netpbm / WAV — stdlib-decodable formats)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def decodable_media(spark):
    from dataworks_spark.llm.multimodal import read_binary_dir, write_decodable_fixture

    path = write_decodable_fixture("t_llm")
    imgs = read_binary_dir(spark, path, id_pattern=r"img_(\d+)\.", glob="*.ppm")
    auds = read_binary_dir(spark, path, id_pattern=r"aud_(\d+)\.", glob="*.wav")
    return imgs, auds


def test_decode_image_features_real_pixels(decodable_media):
    from dataworks_spark.llm.multimodal import decode_image_features

    imgs, _ = decodable_media
    feats = {r.media_id: r for r in decode_image_features(imgs).collect()}
    assert len(feats) == 48
    r0 = feats[0]
    assert (r0.format, r0.width, r0.height) == ("P6", 16, 16)
    # real pixel math: red channel of image 0 is (x*16) % 256 averaged
    # over x∈[0,16) → mean 120 exactly
    assert abs(r0.mean_r - 120.0) < 1e-9
    assert r0.ahash is not None


def test_image_near_dup_pairs_finds_planted(decodable_media):
    """Every 8th fixture image is a one-pixel perturbation of its
    predecessor: the perceptual pairs must include those plants with
    tiny Hamming distance, and unrelated gradient images stay apart."""
    from dataworks_spark.llm.multimodal import decode_image_features, image_near_dup_pairs

    imgs, _ = decodable_media
    feats = decode_image_features(imgs)
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in image_near_dup_pairs(feats).collect()}
    planted = {(i - 1, i) for i in range(7, 48, 8)}
    assert planted <= set(pairs)
    assert all(pairs[p] <= 2 for p in planted)


def test_decode_audio_features_real_samples(decodable_media):
    from dataworks_spark.llm.multimodal import decode_audio_features

    _, auds = decodable_media
    feats = {r.media_id: r for r in decode_audio_features(auds).collect()}
    assert len(feats) == 24
    r0 = feats[0]
    assert (r0.n_channels, r0.sample_rate, r0.n_frames) == (1, 8000, 2000)
    assert abs(r0.duration_s - 0.25) < 1e-9
    # a full-scale-ish sine's RMS is amplitude/√2: 12000/32768/1.414 ≈ 0.2589
    assert abs(r0.rms - 12000 / 32768 / (2 ** 0.5)) < 0.01
    assert 0.3 < r0.peak < 0.4


def test_decode_strict_gates_unknown_formats(spark):
    from dataworks_spark.llm.multimodal import decode_audio_features, decode_image_features

    df = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG not really"))], "media_id long, payload binary"
    )
    out = decode_image_features(df).collect()[0]
    assert out.width is None and out.ahash is None  # NULLs, not lies
    out_a = decode_audio_features(df).collect()[0]
    assert out_a.sample_rate is None
    from pyspark.errors import PythonException

    with pytest.raises(PythonException, match="codec libraries"):
        decode_image_features(df, strict=True).collect()


def test_sample_video_frames_real_y4m(spark):
    """Real YUV4MPEG2 parsing: frame stride, dimensions from the stream
    header, and mean luma computed from actual plane bytes."""
    from dataworks_spark.llm.multimodal import (
        read_binary_dir,
        sample_video_frames,
        write_video_fixture,
    )

    path = write_video_fixture("t_llm")
    vids = read_binary_dir(spark, path, id_pattern=r"vid_(\d+)\.", glob="*.y4m")
    rows = sample_video_frames(vids, every_n=4).collect()
    by_vid = {}
    for r in rows:
        by_vid.setdefault(r.media_id, []).append(r)
    assert len(by_vid) == 8
    for frames in by_vid.values():
        assert sorted(f.frame_idx for f in frames) == [0, 4, 8]  # 12 frames / stride 4
        assert all((f.width, f.height) == (8, 8) for f in frames)
    # luma math: video 0 frame 0 luma = (x + y*8) % 256 over 8×8 → mean 31.5
    f00 = next(f for f in by_vid[0] if f.frame_idx == 0)
    assert abs(f00.mean_luma - 31.5) < 1e-9
    # non-y4m payload: zero frames, or strict raise
    junk = spark.createDataFrame(
        [(9, bytearray(b"\x00\x01video-ish"))], "media_id long, payload binary"
    )
    assert sample_video_frames(junk).count() == 0
    from pyspark.errors import PythonException

    with pytest.raises(PythonException, match="codec libraries"):
        sample_video_frames(junk, strict=True).collect()


def test_resize_images_real_composition(spark, decodable_media):
    """Nearest-neighbor resize emits VALID P6 payloads that the decode
    kernel re-parses at the new dimensions, with channel means close to
    the originals (gradients: block sampling shifts means only a
    little). Junk payloads null out rather than lying."""
    from dataworks_spark.llm.multimodal import decode_image_features, resize_images

    imgs, _ = decodable_media
    small = resize_images(imgs, 8, 8)
    feats = {r.media_id: r for r in decode_image_features(small).collect()}
    assert len(feats) == 48
    assert all((f.width, f.height) == (8, 8) for f in feats.values())
    orig = {r.media_id: r for r in decode_image_features(imgs).collect()}
    for mid in orig:
        assert abs(orig[mid].mean_r - feats[mid].mean_r) < 20
    junk = spark.createDataFrame(
        [(9, bytearray(b"GIF89a..."))], "media_id long, payload binary"
    )
    out = resize_images(junk, 8, 8).collect()[0]
    assert out.payload is None and out.width is None


def test_train_classifier_null_text_contributes_bias(spark):
    """A NULL-text doc still moves the bias (it has a label): training
    on all-tokenless docs with label 1 pushes bias positive."""
    from dataworks_spark.llm.classify import train_classifier

    df = spark.createDataFrame(
        [(1, None, 1), (2, "", 1), (3, None, 1)], "doc_id long, text string, label int"
    )
    w, b = train_classifier(df, "label", rounds=3, lr=1.0)
    assert b > 0.5  # three rounds of err≈0.5 on every doc
    assert all(x == 0.0 for x in w)  # no tokens → no feature gradients


def test_minhash_signature_entries_are_independent_minima(spark):
    """Round-8 regression pin: the old code captured the loop variable
    with a default argument (``lambda h, i=i``), which makes a PySpark
    array-HOF lambda TWO-parameter — bound as (element, array_index) —
    so ``i`` silently named the index column and the 64-entry MinHash
    signature became 64 copies of ONE minimum (banding degenerated to
    a single-hash equality join; repro tools/hof_lambda_arity_repro.py).
    The fixed fold must equal the independently-shaped explode+groupBy
    minima for EVERY i, and a multi-shingle doc must not have an
    all-identical signature."""
    from dataworks_spark.llm.dedup import minhash_from_hashes

    n = 16
    df = spark.createDataFrame(
        [(1, [5, 9, 123456]), (2, [7]), (3, [])],
        "doc long, hs array<long>",
    )
    got = {
        r["doc"]: r["sig"]
        for r in df.select("doc", minhash_from_hashes(F.col("hs"), n).alias("sig")).collect()
    }
    expected = {
        r["doc"]: [r[f"m{i}"] for i in range(n)]
        for r in df.select("doc", F.explode("hs").alias("h"))
        .groupBy("doc")
        .agg(*[F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"m{i}") for i in range(n)])
        .collect()
    }
    for doc, sig in expected.items():
        assert got[doc] == sig, f"doc {doc}: {got[doc][:3]}... != {sig[:3]}..."
    assert len(set(got[1])) > 1, "multi-shingle signature must vary across i"
    assert got[3] == [None] * n  # empty shingle set -> all-null signature


def test_simhash_matches_python_reference_bit_for_bit(spark, docs):
    """Cross-shape pin for the other sketch: the nested HOF vote fold
    must equal a per-bit Python reference fed the same spark-computed
    token hashes (guards the same silent-degeneration class the minhash fix
    documents: wrong-but-deterministic sketch values)."""
    from dataworks_spark.llm.dedup import simhash

    sample = docs.filter(F.col("doc_id") < 5).select("doc_id", "text")
    got = {
        r["doc_id"]: r["s"]
        for r in sample.select("doc_id", simhash(F.col("text")).alias("s")).collect()
    }
    rows = sample.select(
        "doc_id", F.transform(F.split("text", " "), lambda t: F.xxhash64(t)).alias("th")
    ).collect()
    for r in rows:
        votes = [0] * 64
        for h in r["th"]:
            h64 = h & 0xFFFFFFFFFFFFFFFF
            for i in range(64):
                votes[i] += 1 if (h64 >> i) & 1 else -1
        fp = sum(1 << i for i in range(64) if votes[i] > 0)
        if fp >= 2**63:
            fp -= 2**64
        assert fp == got[r["doc_id"]], r["doc_id"]


def test_lsh_buckets_are_not_collapsed(spark, emb):
    """The per-plane dot subtrees differ only in literal plane arrays —
    assert the bucket assignment actually spreads (a degenerate expression would
    leave every row in bucket 0 or a single sign pattern)."""
    from dataworks_spark.llm.similarity import _hyperplanes, lsh_bucket

    planes = _hyperplanes(64, 4, 42)
    hist = (
        emb.select(lsh_bucket(F.col("embedding"), planes).alias("b"))
        .groupBy("b")
        .count()
        .collect()
    )
    assert len(hist) >= 8, f"expected ≥8 of 16 buckets populated, got {len(hist)}"


def test_ivf_assignment_is_not_collapsed(spark, emb):
    """Same degeneration guard for the IVF coarse quantizer: sibling
    per-centroid dot subtrees must yield a real argmax spread, not one
    winning cluster for every row."""
    from dataworks_spark.llm.similarity import ivf_assign, ivf_build_centroids

    cents = ivf_build_centroids(emb, "embedding", n_centroids=8, sample=512, seed=42)
    hist = (
        emb.select(ivf_assign(F.col("embedding"), cents).alias("c"))
        .groupBy("c")
        .count()
        .collect()
    )
    assert len(hist) >= 6, f"expected ≥6 of 8 clusters populated, got {len(hist)}"


def test_ivf_assign_arrow_equals_literal_kernel(spark):
    """r10 (VERDICT #1): the Arrow matmul kernel must agree with the
    literal JVM kernel ROW-FOR-ROW — same argmax, same first-max tie
    order, same cluster-0 sentinel for NULL / wrong-dim / NaN-poisoned
    vectors. max_literal forces each path over identical data."""
    import numpy as np

    from dataworks_spark.llm.similarity import ivf_assign

    rng = np.random.default_rng(11)
    cents = rng.normal(size=(8, 12))
    rows = [(i, [float(x) for x in rng.normal(size=12)]) for i in range(200)]
    rows.append((900, None))                      # NULL vector
    rows.append((901, [1.0, 2.0]))                # wrong dimension
    rows.append((902, [float("nan")] * 12))       # NaN-poisoned scores
    # exact tie: two identical centroids -> first index must win
    cents[5] = cents[2]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    both = df.select(
        "vec_id",
        ivf_assign(F.col("embedding"), cents, max_literal=256).alias("lit_c"),
        ivf_assign(F.col("embedding"), cents, max_literal=0).alias("arrow_c"),
    ).collect()
    mism = [(r.vec_id, r.lit_c, r.arrow_c) for r in both if r.lit_c != r.arrow_c]
    assert not mism, f"kernel disagreement: {mism[:10]}"
    sentinel = {r.vec_id: r.arrow_c for r in both if r.vec_id >= 900}
    assert sentinel == {900: 0, 901: 0, 902: 0}

    # array<float> (the embeddings fixture's physical type): Arrow
    # hands the kernel float32 numpy cells — must agree with the
    # literal kernel there too
    fdf = spark.createDataFrame(
        rows[:50], "vec_id long, embedding array<double>"
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    fboth = fdf.select(
        ivf_assign(F.col("embedding"), cents, max_literal=256).alias("lit_c"),
        ivf_assign(F.col("embedding"), cents, max_literal=0).alias("arrow_c"),
    ).collect()
    assert all(r.lit_c == r.arrow_c for r in fboth)


def test_ivf_assign_arrow_broadcast_path_equals_closure_path(spark, monkeypatch):
    """r13 (r12 VERDICT #7): above _IVF_BROADCAST_MIN_BYTES the
    centroid matrix rides a sparkContext.broadcast instead of the UDF
    closure. Force the broadcast path with a zero threshold and pin it
    row-for-row against the closure path AND the literal kernel —
    including the sentinel rows. Also assert a broadcast was actually
    created and the closure does not capture the matrix."""
    import numpy as np

    import dataworks_spark.llm.similarity as sim
    from dataworks_spark.llm.similarity import ivf_assign

    rng = np.random.default_rng(23)
    cents = rng.normal(size=(8, 12))
    rows = [(i, [float(x) for x in rng.normal(size=12)]) for i in range(100)]
    rows.append((900, None))
    rows.append((901, [float("nan")] * 12))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    made = []
    sc = spark.sparkContext
    real_broadcast = sc.broadcast
    monkeypatch.setattr(
        type(sc), "broadcast",
        lambda self, v: made.append(v) or real_broadcast(v),
    )
    monkeypatch.setattr(sim, "_IVF_BROADCAST_MIN_BYTES", 0)
    bc_col = ivf_assign(F.col("embedding"), cents, max_literal=0)
    assert len(made) == 1 and made[0].shape == (12, 8)
    monkeypatch.setattr(sim, "_IVF_BROADCAST_MIN_BYTES", 1 << 60)
    both = df.select(
        "vec_id",
        ivf_assign(F.col("embedding"), cents, max_literal=256).alias("lit_c"),
        ivf_assign(F.col("embedding"), cents, max_literal=0).alias("closure_c"),
        bc_col.alias("bc_c"),
    ).collect()
    for r in both:
        assert r.lit_c == r.closure_c == r.bc_c, r
    sentinel = {r.vec_id: r.bc_c for r in both if r.vec_id >= 900}
    assert sentinel == {900: 0, 901: 0}


def test_training_loops_destroy_per_epoch_broadcasts(spark, monkeypatch):
    """r14 (r13 ADVICE): each large-c assignment used to leave its
    centroid broadcast alive until driver GC — one block-manager copy
    per Lloyd epoch. The eager training loops now thread ``bc_out``
    through ivf_assign and destroy the epoch's broadcast right after
    its collect. Force the broadcast path (threshold 0) and assert
    every broadcast either loop creates is destroyed before return."""
    import numpy as np
    from pyspark.broadcast import Broadcast

    import dataworks_spark.llm.similarity as sim

    monkeypatch.setattr(sim, "_IVF_BROADCAST_MIN_BYTES", 0)
    made, destroyed = [], []
    sc = spark.sparkContext
    real_broadcast = sc.broadcast
    real_destroy = Broadcast.destroy

    def _spy_broadcast(self, v):
        bc = real_broadcast(v)
        made.append(bc)
        return bc

    monkeypatch.setattr(type(sc), "broadcast", _spy_broadcast)
    monkeypatch.setattr(
        Broadcast, "destroy",
        lambda self, blocking=False: (
            destroyed.append(id(self)), real_destroy(self, blocking))[0],
    )

    rng = np.random.default_rng(5)
    x = rng.normal(size=(64, 8))
    sim._sample_lloyd_distributed(spark, x, x[:4].copy(), epochs=2)
    assert len(made) == 2  # one broadcast per epoch, none reused
    assert {id(b) for b in made} == set(destroyed)

    made.clear()
    destroyed.clear()
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )
    sim.ivf_build_centroids_distributed(
        df, "embedding", n_centroids=16, iterations=2
    )
    # every arrow-path broadcast any stage created must be destroyed
    # by return (the init stage may route through the sample loop too)
    assert made, "expected the c=16 > IVF_LITERAL_MAX arrow path to fire"
    assert {id(b) for b in made} == set(destroyed)


def test_ivf_assign_arrow_ships_package(spark, monkeypatch):
    """r12 (ADVICE medium): the Arrow IVF kernel's task body imports
    dataworks_spark.functions.blasctl by name, so building the kernel
    must ship the package (ensure_package_shipped) exactly like the
    minhash/simhash/multimodal kernels — otherwise an off-repo driver
    (the driver-contract harness shape) dies with ModuleNotFoundError
    at task time. Asserted at kernel-build time, no job needed."""
    import numpy as np

    import dataworks_spark.session as S
    from dataworks_spark.llm.similarity import ivf_assign

    calls = []
    monkeypatch.setattr(S, "ensure_package_shipped", lambda sp: calls.append(sp))
    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    df.select(
        ivf_assign(F.col("embedding"), np.eye(2), max_literal=0).alias("c")
    )
    assert calls, "arrow IVF kernel built without shipping the package"


def test_ivf_assign_large_c_invariance_and_planted_recall(spark):
    """r10 (VERDICT #6): the large-c Arrow path — not just the literal
    kernel — carries the rows-only anchors. c=300 crosses the default
    IVF_LITERAL_MAX=256, so semantic_dedup_pairs and the assignment
    itself run the matmul kernel: partition-invariant and ≥0.95 recall
    on planted near-dup groups."""
    import numpy as np

    from dataworks_spark.llm.similarity import (
        IVF_LITERAL_MAX,
        ivf_assign,
        ivf_build_centroids,
        semantic_dedup_pairs,
    )

    # groups ≫ clusters (≈4.3 groups per cluster, the SemDeDup regime):
    # with clusters ≈ groups, k-means legitimately seeds two centroids
    # inside one tight group and splits it — a quantizer property, not
    # a kernel property (first attempt at 320 groups / 300 clusters
    # measured 0.89 recall for exactly that reason)
    rng = np.random.default_rng(17)
    n_groups = 1280
    base = rng.normal(size=(n_groups, 16))
    rows = []
    vid = 0
    for g in range(n_groups):
        for _ in range(3):
            v = base[g] + rng.normal(scale=0.005, size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    n_clusters = 300
    assert n_clusters > IVF_LITERAL_MAX

    # partition invariance through the Arrow kernel
    cents = ivf_build_centroids(df, "embedding", n_centroids=n_clusters, seed=5)
    a = {
        r.vec_id: r.c
        for r in df.repartition(1)
        .select("vec_id", ivf_assign(F.col("embedding"), cents).alias("c"))
        .collect()
    }
    b = {
        r.vec_id: r.c
        for r in df.repartition(7)
        .select("vec_id", ivf_assign(F.col("embedding"), cents).alias("c"))
        .collect()
    }
    assert a == b

    # ground truth from construction (verified in numpy — an O(n²)
    # Spark exact join over 3840 rows would dominate the test): every
    # in-group pair has cos ≈ 0.9999 ≫ 0.95; random 16-dim cross-group
    # cosines never reach 0.95
    X = np.array([v for _, v in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    for g in range(0, n_groups, 97):  # spot-verify the construction
        i = 3 * g
        assert Xn[i] @ Xn[i + 1] >= 0.99 and Xn[i] @ Xn[i + 2] >= 0.99
    exact = {
        (3 * g + a, 3 * g + b)
        for g in range(n_groups)
        for a in range(3)
        for b in range(a + 1, 3)
    }
    sem = {
        (r.id_a, r.id_b)
        for r in semantic_dedup_pairs(
            df, "vec_id", "embedding", 0.95, n_clusters=n_clusters
        ).collect()
    }
    recall = len(sem & exact) / len(exact)
    assert recall >= 0.95, f"planted-dup recall {recall} over {len(exact)} pairs"


def test_ivf_sample_scales_with_cluster_count(spark):
    """r10 (VERDICT #2): the quantizer sample is coupled to the cluster
    count (max(sample, 32·c)), so n_clusters beyond the old fixed 2048
    sample still trains that many DISTINCT, non-degenerate centroids."""
    import numpy as np

    from dataworks_spark.llm.similarity import ivf_build_centroids

    n_c = 2100  # > the old 2048-row sample cap
    dim = 4
    df = spark.range(70000).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.abs(F.xxhash64(F.col("id"), F.lit(k))) % 997 / 997.0 + 0.001)
                for k in range(dim)
            ]
        ).alias("embedding"),
    )
    cents = ivf_build_centroids(
        df, "embedding", n_centroids=n_c, iterations=2, seed=42
    )
    assert cents.shape == (n_c, dim)
    assert len(np.unique(np.round(cents, 9), axis=0)) == n_c
    assert (np.linalg.norm(cents, axis=1) > 0).all()


def test_minhash_estimates_jaccard_accurately(docs):
    """Quality gate on the ESTIMATOR, not just candidate recall: with
    64 hashes the est_jaccard of true near-dup pairs must track exact
    n-gram Jaccard closely (binomial σ ≈ √(j(1-j)/64) ≈ 0.06 at
    j=0.5). The pre-r8 degenerate signature had est ≡ 1.0 — this
    would have failed loudly."""
    from dataworks_spark.llm.dedup import minhash_near_dup_pairs, ngram_jaccard_pairs

    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.2).collect()
    }
    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_near_dup_pairs(
            docs, "doc_id", "text", n_hashes=64, bands=16, threshold=0.3
        ).collect()
    }
    overlap = exact.keys() & est.keys()
    assert len(overlap) >= 10, "fixture should contain strong near-dups"
    errs = sorted(abs(est[p] - exact[p]) for p in overlap)
    mean_err = sum(errs) / len(errs)
    p95_err = errs[int(0.95 * len(errs))]
    assert mean_err < 0.05, f"mean |est-exact| {mean_err:.3f}"
    assert p95_err < 0.15, f"p95 |est-exact| {p95_err:.3f}"


def test_bucket_by_score_rejects_nan_null_and_empty(spark):
    """r9 review (live-verified): Spark sorts NaN above every double,
    so one NaN both skews the quantile boundaries and lands in the top
    bucket, while NULL silently buckets 0 — bucket_by_score now rejects
    both in the same one-row aggregate that computes the boundaries,
    and an empty input gets a descriptive error instead of a bare
    TypeError."""
    import pytest

    from dataworks_spark.llm.pipeline import bucket_by_score

    ok = spark.createDataFrame([(i, float(i)) for i in range(6)], "id long, score double")
    out = bucket_by_score(ok, "score", 2)
    assert {r.score_bucket for r in out.collect()} == {0, 1}

    with_nan = spark.createDataFrame(
        [(0, 0.1), (1, 0.2), (2, float("nan"))], "id long, score double"
    )
    with pytest.raises(ValueError, match="NaN"):
        bucket_by_score(with_nan, "score", 2)

    with_null = spark.createDataFrame(
        [(0, 0.1), (1, 0.2), (2, None)], "id long, score double"
    )
    with pytest.raises(ValueError, match="NULL"):
        bucket_by_score(with_null, "score", 2)

    empty = spark.createDataFrame([], "id long, score double")
    with pytest.raises(ValueError, match="empty"):
        bucket_by_score(empty, "score", 2)


def test_cc_signature_detects_even_multiplicity_changes(spark):
    """r9 review: the convergence signature must hash (node, label)
    pairs — hashing the label alone lets two nodes making the identical
    v->w transition cancel (h(v)^h(v)=0 before, h(w)^h(w)=0 after), so
    a still-propagating symmetric subgraph read as converged and
    near_dup_clusters returned split components."""
    sig_fixed = F.bit_xor(
        F.xxhash64(F.col("src").cast("string"), F.col("label").cast("string"))
    )
    sig_old = F.bit_xor(F.xxhash64(F.col("label").cast("string")))
    before = spark.createDataFrame([("x", "v"), ("y", "v"), ("z", "q")], "src string, label string")
    after = spark.createDataFrame([("x", "w"), ("y", "w"), ("z", "q")], "src string, label string")
    # the old signature cannot see this change; the fixed one must
    assert before.agg(sig_old).first()[0] == after.agg(sig_old).first()[0]
    assert before.agg(sig_fixed).first()[0] != after.agg(sig_fixed).first()[0]


def test_near_dup_clusters_symmetric_ladder(spark):
    """End-to-end on the review's adversarial shape: a chain with
    mirrored pairs hanging off each link — every mirrored pair makes
    identical transitions each round. One component in, one cluster
    id out."""
    from dataworks_spark.llm.dedup import near_dup_clusters

    chain = [(f"c{i}", f"c{i+1}") for i in range(6)]
    ladder = [(f"c{i}", f"x{i}") for i in range(6)] + [(f"c{i}", f"y{i}") for i in range(6)]
    pairs = spark.createDataFrame(chain + ladder, "doc_a string, doc_b string")
    out = near_dup_clusters(pairs, rounds_per_probe=1)
    assert out.select("cluster").distinct().count() == 1
    assert out.count() == 19  # c0..c6 (7) + x0..x5 (6) + y0..y5 (6)


def test_minhash_validates_bands_and_excludes_shingleless_docs(spark):
    """r9 review: bands must divide n_hashes (bands > n_hashes made
    r=0 -> every doc collided in every bucket = full O(n^2) self-join);
    docs too short to shingle must not band at all (their all-NULL
    signatures all hashed identically)."""
    import pytest

    from dataworks_spark.llm.dedup import minhash_near_dup_pairs

    df = spark.createDataFrame(
        [(0, "a b"), (1, "c d"), (2, "x y z w v u t s r q"), (3, "x y z w v u t s r q")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="bands"):
        minhash_near_dup_pairs(df, "doc_id", "text", n_hashes=8, bands=16)
    with pytest.raises(ValueError, match="divide"):
        minhash_near_dup_pairs(df, "doc_id", "text", n_hashes=8, bands=3)
    # r9 ADVICE: bands=0 raised a bare ZeroDivisionError; a negative
    # divisor (128 % -16 == 0) passed the check and produced r < 0
    with pytest.raises(ValueError, match="bands"):
        minhash_near_dup_pairs(df, "doc_id", "text", n_hashes=8, bands=0)
    with pytest.raises(ValueError, match="bands"):
        minhash_near_dup_pairs(df, "doc_id", "text", n_hashes=128, bands=-16)
    # docs 0/1 have < 3 tokens -> no shingles -> excluded; 2/3 identical
    out = minhash_near_dup_pairs(df, "doc_id", "text", n_hashes=16, bands=4, threshold=0.5)
    got = {(r.doc_a, r.doc_b) for r in out.collect()}
    assert got == {(2, 3)}


def test_brute_force_topk_deterministic_under_ties(spark):
    """r9 review: tied cosine scores straddling rank k must resolve by
    data, not partition layout."""
    from dataworks_spark.llm.similarity import brute_force_cosine_topk

    rows = [(i, [1.0, 0.0]) for i in range(6)] + [(9, [0.0, 1.0])]
    outs = []
    for parts in (1, 5):
        df = spark.createDataFrame(rows, "vid long, vec array<double>").repartition(parts)
        top = brute_force_cosine_topk(df, "vec", [1.0, 0.0], k=3)
        outs.append(sorted(r.vid for r in top.collect()))
    assert outs[0] == outs[1] == [0, 1, 2]


def test_cosine_pairs_above_bucketed_empty_input(spark):
    """r9 review: the bucketed path crashed (len(None)) on an empty
    frame; it must return the empty pair set like the exact path."""
    from dataworks_spark.llm.similarity import cosine_pairs_above

    empty = spark.createDataFrame([], "vid long, vec array<double>")
    out = cosine_pairs_above(empty, "vid", "vec", threshold=0.5, exact=False, n_planes=4)
    assert out.count() == 0


def test_cosine_pairs_above_all_null_vectors_no_cartesian(spark):
    """r9 ADVICE: a NON-empty frame whose vector column is all-NULL fell
    through to a FULL crossJoin (O(n²) pairs built, then filtered by
    NULL cosine) — the pair set is empty by construction and the plan
    must not contain a full cartesian product."""
    from dataworks_spark.llm.similarity import cosine_pairs_above

    rows = [(i, None) for i in range(50)]
    df = spark.createDataFrame(rows, "vid long, vec array<double>")
    out = cosine_pairs_above(df, "vid", "vec", threshold=0.5, exact=False, n_planes=4)
    assert out.count() == 0
    # PropagateEmptyRelation collapses limit(0) × limit(0) to an empty
    # relation — the executed plan must carry NO join at all
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "Join" not in plan, plan


def test_tokens_filter_empty_and_fingerprint_invariance(spark):
    """r10 review: split('\\s+') kept leading/trailing empty-string
    tokens — token_count(' hello\\n') read 3, '' entered vocabularies,
    and document_fingerprint broke its reorder/duplication-invariance
    contract on padded text ('a b' vs ' a b ')."""
    from dataworks_spark.llm.text import document_fingerprint, token_count

    df = spark.createDataFrame(
        [(1, " hello\n"), (2, "a b"), (3, " a  b "), (4, "b a b")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n, r.fp)
        for r in df.select(
            "doc_id",
            token_count(F.col("text")).alias("n"),
            document_fingerprint(F.col("text")).alias("fp"),
        ).collect()
    }
    assert got[1][0] == 1
    assert got[2][0] == 2 and got[3][0] == 2 and got[4][0] == 3
    # same distinct token set => same fingerprint, padding and order be damned
    assert got[2][1] == got[3][1] == got[4][1]


def test_retrieval_terms_lowercased(spark):
    """r10 review: tokens are lowercased but query/vocab terms were
    matched case-sensitively — 'Spark' silently scored nothing."""
    import pytest

    from dataworks_spark.llm.retrieval import bm25_topk, tfidf_vectors

    df = spark.createDataFrame(
        [(1, "Spark merges streams"), (2, "duck pond")], "doc_id long, text string"
    )
    top = bm25_topk(df, ["Spark"], k=5).collect()
    assert [r.doc_id for r in top] == [1]
    vec = {r.doc_id: r.tfidf for r in tfidf_vectors(df, ["SPARK"]).collect()}
    assert vec[1][0] > 0.0 and vec[2][0] == 0.0
    with pytest.raises(ValueError, match="duplicate"):
        bm25_topk(df, ["Spark", "spark"], k=5)


def test_consume_time_column_branch(spark):
    """r10 review: `value == ':never'` on a Column forced bool(Column)
    and raised — the documented Column input never worked."""
    from dataworks_spark.functions.timeops import consume_time

    df = spark.createDataFrame([("2024-01-02 03:04:05",)], "s string")
    got = df.select(consume_time(F.col("s")).alias("t")).first()[0]
    import datetime as dt

    assert got == dt.datetime(2024, 1, 2, 3, 4, 5)


def test_incremental_corpus_stale_mirror_bypassed_and_healed(spark, tmp_path):
    """r10 review: a crash between the corpus append and the hash-cache
    append left a stale mirror that silently re-admitted a redelivered
    batch as duplicates. The sync marker makes the stale mirror
    bypassed (reads derive from the corpus) and the next ingest
    rebuilds it."""
    import os

    from dataworks_spark.llm.incremental import IncrementalCorpus

    cache = str(tmp_path / "hashes")
    corpus = IncrementalCorpus(
        spark, str(tmp_path / "corpus"), hash_cache_path=cache
    )
    b1 = spark.createDataFrame([(1, "alpha beta"), (2, "gamma")], "doc_id long, text string")
    assert corpus.ingest(b1) == 2

    # simulate the crash window: corpus has a doc the mirror missed,
    # with the sync marker still in place. r15: ingest stamps the
    # corpus fingerprint immediately after its append (before the
    # mirror writes), so the faithful crash-point simulation re-stamps
    # — a crash EARLIER (mid-append) is the torn-corpus case the stamp
    # now catches, pinned in test_incremental_corpus_refuses_tampered_dir
    extra = spark.createDataFrame([(3, "delta epsilon")], "doc_id long, text string")
    open(corpus._sync_marker(cache), "w").close()
    extra.write.mode("append").parquet(corpus.path)
    from dataworks_spark.session import write_table_meta

    write_table_meta(spark, corpus.path, extra={"writer": "incremental_corpus"})

    # redelivery of the doc the mirror doesn't know: stale mirror must
    # be bypassed, so nothing is re-admitted
    assert corpus.ingest(extra) == 0
    assert corpus.read().count() == 3
    # and the marker is gone (mirror healed from the corpus)
    assert not os.path.exists(corpus._sync_marker(cache))
    # mirror now serves the full hash set
    assert corpus.existing_hashes().count() == 3


def test_multimodal_strict_and_fixture_and_truncated_y4m(spark, tmp_path):
    """r10 review triple: extract_features(strict=True) must ALWAYS
    raise (there is no real kernel — PIL presence previously skipped
    the gate and served sha256 pseudo-features as real); fixture
    writers must regenerate when called with different n (the marker
    count was written but never read); truncated y4m payloads yield
    no/partial frames instead of killing the task with ValueError."""
    import os

    import pytest

    from dataworks_spark.llm.multimodal import (
        extract_features,
        read_binary_dir,
        sample_video_frames,
        write_media_fixture,
    )

    media = spark.createDataFrame(
        [(1, b"\x89PNG1234", "image", None)],
        "media_id long, payload binary, media_type string, meta string",
    ).drop("meta")
    with pytest.raises(NotImplementedError, match="no real decode kernel"):
        extract_features(media, strict=True)

    root = str(tmp_path / "fx")
    p1 = write_media_fixture("resize_check", n=4, root=root)
    assert len([f for f in os.listdir(p1) if f.endswith(".png")]) == 4
    p2 = write_media_fixture("resize_check", n=7, root=root)
    assert p1 == p2
    assert len([f for f in os.listdir(p2) if f.endswith(".png")]) == 7

    junk = spark.createDataFrame(
        [
            (1, b"YUV4MPEG2 W8 H8 F25:1"),          # header, no newline
            (2, b"YUV4MPEG2 W8 H8 F25:1 C420\nFRAME"),  # marker, no newline
        ],
        "media_id long, payload binary",
    )
    assert sample_video_frames(junk).count() == 0  # no crash, no frames

    # unmatched-id files are excluded, not NULL-id rows
    stray = os.path.join(p2, "cover.png")
    with open(stray, "wb") as f:
        f.write(b"\x89PNGxxxx")
    got = read_binary_dir(spark, p2, id_pattern=r"media_(\d+)\.")
    ids = [r.media_id for r in got.select("media_id").collect()]
    assert len(ids) == 7 and None not in ids


def test_ivf_training_collect_is_bounded(spark, monkeypatch):
    """r10 VERDICT #1: sample = 32·c with SemDeDup's c = n/128 made the
    quantizer TRAINING collect n/4 of the table to the driver — linear
    in corpus size. The default sample is now hard-capped at
    IVF_TRAIN_SAMPLE_CAP whatever the cluster count; explicit samples
    stay verbatim; every n_centroids ≤ cap/32 resolves to exactly the
    r10 value (existing centroids unchanged)."""
    import numpy as np

    from dataworks_spark.llm import similarity as sim

    # sizing: capped for any huge c, identical below the knee
    assert sim._train_sample_size(10_000_000, None) == sim.IVF_TRAIN_SAMPLE_CAP
    assert sim._train_sample_size(8192, None) == 32 * 8192  # == cap, uncapped knee
    assert sim._train_sample_size(16, None) == 2048
    assert sim._train_sample_size(4096, None) == 32 * 4096
    assert sim._train_sample_size(10_000_000, 777) == 777  # explicit verbatim

    # end-to-end at c=4096 over a larger frame, with the cap shrunk so
    # the test exercises the capped (mini-batch) regime cheaply: the
    # collect is bounded by the cap, not by 32·c
    monkeypatch.setattr(sim, "IVF_TRAIN_SAMPLE_CAP", 2048)
    seen = {}
    orig_limit = type(spark.range(1)).limit

    def spy_limit(self, n):
        seen["n"] = n
        return orig_limit(self, n)

    monkeypatch.setattr(type(spark.range(1)), "limit", spy_limit)
    dim = 8
    df = spark.range(50_000).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.abs(F.xxhash64(F.col("id"), F.lit(k))) % 997 / 997.0 + 0.001)
                for k in range(dim)
            ]
        ).alias("embedding"),
    )
    cents = sim.ivf_build_centroids(df, "embedding", n_centroids=4096, seed=7)
    assert seen["n"] == 2048, "training collect exceeded the cap"
    assert cents.shape == (2048, dim)  # bounded by the capped sample
    assert np.isfinite(cents).all()


def test_ivf_train_routes_large_c_to_distributed(spark, monkeypatch):
    """r10 VERDICT #1 routing: n_centroids beyond cap/32 cannot be
    trained honestly from the capped driver sample — ivf_train sends
    those builds through the distributed full-table refiner (seeded by
    the capped init); small-c builds stay on the driver path bitwise
    unchanged."""
    import numpy as np

    from dataworks_spark.llm import similarity as sim

    rows = [(i, [float(i % 7), float(i % 3), 1.0]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    calls = {}
    real_dist = sim.ivf_build_centroids_distributed

    def spy_dist(df_, vec_col, n_centroids, iterations, sample, seed):
        calls["dist"] = (n_centroids, iterations)
        return real_dist(df_, vec_col, min(n_centroids, 4), iterations, 64, seed)

    monkeypatch.setattr(sim, "ivf_build_centroids_distributed", spy_dist)
    monkeypatch.setattr(sim, "IVF_TRAIN_SAMPLE_CAP", 1024)  # knee at c=32

    out = sim.ivf_train(df, "embedding", n_centroids=40, seed=1)
    assert calls["dist"] == (40, 2), "large-c build did not route to distributed"
    assert np.isfinite(out).all()

    # small c: driver path, bitwise identical to the direct builder
    calls.clear()
    small = sim.ivf_train(df, "embedding", n_centroids=4, seed=1)
    assert "dist" not in calls
    direct = sim.ivf_build_centroids(df, "embedding", n_centroids=4, seed=1)
    assert np.array_equal(small, direct)

    # explicit refine_iterations=0 forces driver-only at any c
    calls.clear()
    sim.ivf_train(df, "embedding", n_centroids=40, seed=1, refine_iterations=0)
    assert "dist" not in calls


def test_init_assignment_leaves_driver_above_threshold(spark, monkeypatch):
    """r11 VERDICT #4: the mini-batch init's distance work is
    O(sample·c·dim) DRIVER flops — bounded in rows, linear in c. Above
    IVF_INIT_DRIVER_MAX_C the capped init must route to the
    sample-Lloyd form whose assignment runs executor-side; at or below
    the threshold the bit-pinned mini-batch path is untouched."""
    import numpy as np

    from dataworks_spark.llm import similarity as sim

    rows = [(i, [float(i % 11), float(i % 5), 1.0]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    calls = {}
    real_mb, real_dl = sim._minibatch_kmeans, sim._sample_lloyd_distributed

    def spy_mb(*a, **k):
        calls.setdefault("mb", 0)
        calls["mb"] += 1
        return real_mb(*a, **k)

    def spy_dl(*a, **k):
        calls.setdefault("dl", 0)
        calls["dl"] += 1
        return real_dl(*a, **k)

    monkeypatch.setattr(sim, "_minibatch_kmeans", spy_mb)
    monkeypatch.setattr(sim, "_sample_lloyd_distributed", spy_dl)
    monkeypatch.setattr(sim, "IVF_TRAIN_SAMPLE_CAP", 128)  # capped for c ≥ 5
    monkeypatch.setattr(sim, "IVF_INIT_DRIVER_MAX_C", 8)

    # capped AND above the driver ceiling → executor-assignment init
    out = sim.ivf_build_centroids(df, "embedding", n_centroids=12, seed=3)
    assert calls == {"dl": 1} and out.shape == (12, 3)
    assert np.isfinite(out).all()

    # capped but at/below the ceiling → the pinned mini-batch path
    calls.clear()
    out2 = sim.ivf_build_centroids(df, "embedding", n_centroids=8, seed=3)
    assert calls == {"mb": 1} and out2.shape == (8, 3)


def test_sample_lloyd_distributed_matches_driver_lloyd(spark):
    """The executor-assignment init must compute the SAME function as a
    driver Lloyd pass over the sample (cosine argmax + raw-mean update
    from the same seed centroids) — the distribution is an execution
    detail, not a semantics change. Well-separated planted groups keep
    the argmax away from float ties."""
    import numpy as np

    from dataworks_spark.llm import similarity as sim

    rng = np.random.default_rng(5)
    base = rng.normal(size=(6, 8)) * 10.0
    x = np.vstack([base[i % 6] + rng.normal(scale=0.05, size=8) for i in range(240)])
    cents0 = x[rng.choice(len(x), size=6, replace=False)]

    got = sim._sample_lloyd_distributed(spark, x, cents0.copy(), epochs=2)

    exp = cents0.astype(np.float64, copy=True)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    for _ in range(2):
        cn = exp / np.linalg.norm(exp, axis=1, keepdims=True)
        assign = np.argmax(xn @ cn.T, axis=1)
        for c in np.unique(assign):
            exp[c] = x[assign == c].mean(axis=0)
    assert np.allclose(got, exp, atol=1e-9), "distributed init diverged from Lloyd"


def test_minibatch_init_plus_distributed_refine_recovers_structure(spark, monkeypatch):
    """Quality anchor for the capped regime end-to-end: with the cap
    shrunk below 32·c, ivf_train = mini-batch init + distributed Lloyd
    must still recover planted group structure (assignment maps each
    tight group to ONE centroid for nearly all groups) and stay
    partition-invariant. Groups ≫ clusters (the SemDeDup regime the
    planted-recall test documents): with clusters ≈ groups, k-means
    legitimately seeds two centroids inside one tight group and splits
    it — a quantizer property, not a trainer bug."""
    import numpy as np

    from dataworks_spark.llm import similarity as sim

    rng = np.random.default_rng(23)
    n_groups, dim = 60, 12
    base = rng.normal(size=(n_groups, dim)) * 8.0
    rows = []
    for g in range(n_groups):
        for j in range(20):
            v = base[g] + rng.normal(scale=0.05, size=dim)
            rows.append((g * 20 + j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    monkeypatch.setattr(sim, "IVF_TRAIN_SAMPLE_CAP", 256)  # 32·14 ≫ 256 → capped
    cents = sim.ivf_train(df, "embedding", n_centroids=14, seed=3)
    assert cents.shape == (14, dim)

    a = {
        r.vec_id: r.c
        for r in df.repartition(1)
        .select("vec_id", sim.ivf_assign(F.col("embedding"), cents).alias("c"))
        .collect()
    }
    b = {
        r.vec_id: r.c
        for r in df.repartition(9)
        .select("vec_id", sim.ivf_assign(F.col("embedding"), cents).alias("c"))
        .collect()
    }
    assert a == b
    pure = sum(
        1
        for g in range(n_groups)
        if len({a[g * 20 + j] for j in range(20)}) == 1
    )
    assert pure >= int(0.95 * n_groups), f"only {pure}/{n_groups} groups intact"


def test_minhash_arrow_kernel_matches_jvm_bitwise(spark, sf_dir):
    """r10 VERDICT #3: the Arrow-batched numpy MinHash kernel (XXH64
    reimplementation + segmented min) must produce BIT-IDENTICAL
    signatures to the JVM HOF fold — signed-long minima, per-i seed
    chain, and the NULL/empty edge semantics."""
    from dataworks_spark.llm.dedup import minhash_from_hashes, shingle_hashes

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select(
        F.col("doc_id").alias("doc"), shingle_hashes(F.col("text"), 3).alias("hs")
    ).localCheckpoint()
    jvm = {
        r.doc: r.sig
        for r in base.select(
            "doc", minhash_from_hashes(F.col("hs"), 64, use_arrow=False).alias("sig")
        ).collect()
    }
    arw = {
        r.doc: r.sig
        for r in base.select(
            "doc", minhash_from_hashes(F.col("hs"), 64, use_arrow=True).alias("sig")
        ).collect()
    }
    assert jvm == arw and len(jvm) > 0

    # NULL input -> NULL signature; empty shingles -> all-NULL entries
    edge = spark.createDataFrame(
        [(1, [5, -7]), (2, []), (3, None)], "doc int, hs array<long>"
    )
    for ua in (False, True):
        rows = {
            r.doc: r.sig
            for r in edge.select(
                "doc", minhash_from_hashes(F.col("hs"), 8, use_arrow=ua).alias("sig")
            ).collect()
        }
        assert rows[3] is None
        assert rows[2] == [None] * 8
        assert all(v is not None for v in rows[1])
    # and the two kernels agree on the edge rows too
    a = edge.select(minhash_from_hashes(F.col("hs"), 8, use_arrow=False).alias("s")).collect()
    b = edge.select(minhash_from_hashes(F.col("hs"), 8, use_arrow=True).alias("s")).collect()
    assert [r.s for r in a] == [r.s for r in b]


def test_minhash_pipeline_survives_local_relation_and_collapse(spark):
    """Guard for the python-UDF extraction pitfall: an argument tree
    holding a NESTED HOF lambda that references an OUTER lambda
    variable (shingle_hashes' let-binding) mis-plans and dies at
    runtime with '[INTERNAL_ERROR] Cannot evaluate expression'.
    minhash_near_dup_pairs must therefore keep a materialization
    barrier between the shingle expression and the Arrow kernel — this
    exercises the exact LocalRelation + CollapseProject shape that
    reproduced the crash."""
    from dataworks_spark.llm.dedup import minhash_near_dup_pairs, minhash_signature

    df = spark.createDataFrame(
        [(0, "a b"), (1, "c d"), (2, "x y z w v u t s r q"), (3, "x y z w v u t s r q")],
        "doc_id long, text string",
    )
    out = minhash_near_dup_pairs(df, "doc_id", "text", n_hashes=16, bands=4, threshold=0.5)
    assert {(r.doc_a, r.doc_b) for r in out.collect()} == {(2, 3)}
    # the one-expression convenience form is pinned to the JVM kernel
    # for the same reason — it must also run over a LocalRelation
    sigs = df.select(minhash_signature(F.col("text"), 16, 3).alias("s")).collect()
    assert len(sigs) == 4


def test_simhash_arrow_kernel_matches_jvm_bitwise(spark, sf_dir):
    """The Arrow SimHash vote fold (r11, minhash kernel's sibling) must
    produce BIT-IDENTICAL fingerprints to the JVM nested-HOF aggregate
    — strict-majority bit votes, empty-token zero fingerprint, NULL
    text -> NULL."""
    from dataworks_spark.llm.dedup import simhash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    jvm = {
        r.doc_id: r.fp
        for r in docs.select("doc_id", simhash(F.col("text"), use_arrow=False).alias("fp")).collect()
    }
    arw = {
        r.doc_id: r.fp
        for r in docs.select("doc_id", simhash(F.col("text"), use_arrow=True).alias("fp")).collect()
    }
    assert jvm == arw and len(jvm) > 0
    edge = spark.createDataFrame(
        [(1, "hello world hello"), (2, ""), (3, None)], "doc int, text string"
    )
    for ua in (False, True):
        rows = {r.doc: r.fp for r in edge.select("doc", simhash(F.col("text"), use_arrow=ua).alias("fp")).collect()}
        assert rows[3] is None and rows[1] is not None and rows[2] is not None
    a = {r.doc: r.fp for r in edge.select("doc", simhash(F.col("text"), use_arrow=False).alias("fp")).collect()}
    b = {r.doc: r.fp for r in edge.select("doc", simhash(F.col("text"), use_arrow=True).alias("fp")).collect()}
    assert a == b


def test_explicit_sample_equal_to_cap_runs_full_lloyd(spark, monkeypatch):
    """r11 review: an EXPLICIT sample that happens to equal
    IVF_TRAIN_SAMPLE_CAP was misclassified as 'default capped' and
    silently switched the caller-managed build to mini-batch — the
    contract is that explicit samples always run full Lloyd."""
    import numpy as np

    from dataworks_spark.llm import similarity as sim

    rows = [(i, [float(i % 5), float(i % 3), 1.0]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(sim, "IVF_TRAIN_SAMPLE_CAP", 128)
    # explicit sample == cap, n_centroids large enough that 32*c > cap
    explicit = sim.ivf_build_centroids(df, "embedding", n_centroids=8, sample=128, seed=3)
    # Lloyd reference: same inputs with the cap moved out of the way
    monkeypatch.setattr(sim, "IVF_TRAIN_SAMPLE_CAP", 1 << 30)
    lloyd = sim.ivf_build_centroids(df, "embedding", n_centroids=8, sample=128, seed=3)
    assert np.array_equal(explicit, lloyd), "explicit sample took the mini-batch path"


def test_numpy_xxh64_primitives_match_spark(spark):
    """Primitive-level pin for the Arrow kernels' hash reimplementation:
    numpy XXH64 (int-seed chain + long) must equal Spark's xxhash64 on
    adversarial longs — extremes, sign boundaries, powers of two, and a
    seeded random sweep — for every hash-function index the MinHash
    kernel uses. The doc-level bit-identity tests would catch a break,
    but this names the failing primitive directly."""
    import numpy as np

    from dataworks_spark.llm.dedup import _xxh64_int, _xxh64_long

    rng = np.random.default_rng(99)
    vals = (
        [0, 1, -1, 2**63 - 1, -(2**63), 2**32, -(2**32), 42, -42]
        + [int(v) for v in rng.integers(-(2**63), 2**63 - 1, size=64, dtype=np.int64)]
    )
    idxs = [0, 1, 7, 31, 63]
    rows = [(i, v) for i in idxs for v in vals]
    df = spark.createDataFrame(rows, "i int, h long")
    got = {
        (r.i, r.h): r.x
        for r in df.select("i", "h", F.xxhash64(F.col("i"), F.col("h")).alias("x")).collect()
    }
    arr = np.array(vals, dtype=np.int64).view(np.uint64)
    for i in idxs:
        mine = _xxh64_long(arr, _xxh64_int(i)).view(np.int64)
        for v, m in zip(vals, mine):
            assert int(m) == got[(i, v)], f"xxh64 mismatch at i={i}, h={v}"


def test_semantic_dedup_query_nan_guard_runs_under_driver(spark, sf_dir):
    """r15 (r14 VERDICT #4): the registry's q_semantic_dedup
    'pairs_capped' branch unions one all-NaN embedding (vec_id −1)
    into its EXPR pair kernel — the ~isnan guard now executes under
    the driver every round. Pins: (a) the poisoned row pairs with
    NOTHING and no NaN score leaks; (b) the row genuinely REACHES the
    kernel — assignment routes it to sentinel cluster 0, which is
    non-empty for the capped subset, so the filter (not an empty
    group) is what dropped its pairs; (c) clean pairs are bit-equal to
    the unpoisoned run."""
    import math

    from dataworks_spark import queries as Q
    from dataworks_spark.llm.similarity import (
        ivf_assign,
        ivf_train,
        semantic_dedup_pairs,
    )

    out = Q.QUERIES["q_semantic_dedup"](spark, sf_dir).collect()
    assert all(r.id_a != -1 and r.id_b != -1 for r in out)
    assert all(not math.isnan(r.cos_sim) for r in out)

    e = Q._t(spark, sf_dir, "embeddings")
    sub = e.filter(F.col("vec_id") < 200)
    cents = ivf_train(sub, "embedding", n_centroids=4)
    dim = int(cents.shape[1])
    nan_row = spark.createDataFrame(
        [(-1, [float("nan")] * dim)], "vec_id long, embedding array<double>"
    )
    # (b) delivery: sentinel cluster 0, and cluster 0 is non-empty
    assert nan_row.select(
        ivf_assign(F.col("embedding"), cents).alias("c")
    ).first().c == 0
    assert sub.select(
        ivf_assign(F.col("embedding"), cents).alias("c")
    ).filter("c = 0").count() > 0
    # (c) poisoned ≡ clean on the same kernel/params the query runs
    kw = dict(threshold=0.35, n_clusters=4, max_cluster=32,
              centroids=cents, scorer="expr")
    clean = semantic_dedup_pairs(
        sub.select("vec_id", "embedding"), "vec_id", "embedding", **kw
    )
    poisoned = semantic_dedup_pairs(
        sub.select("vec_id", "embedding")
        .unionByName(nan_row.select("vec_id",
                                    F.col("embedding").cast(
                                        sub.schema["embedding"].dataType
                                    ).alias("embedding"))),
        "vec_id", "embedding", **kw,
    )
    key = lambda df: sorted(
        (r.id_a, r.id_b, round(r.cos_sim, 9)) for r in df.collect()
    )
    assert key(poisoned) == key(clean)


def test_winnow_postings_split_and_sidecar(spark, sf_dir, tmp_path):
    """r15: (a) the postings split is pair-exact vs the one-shot kernel
    under BOTH df-cap policies the driver runs; (b) the durable sidecar
    round-trips with the corpus-fingerprint guard — mismatched OR
    unrecorded source fingerprints refuse (unverifiable = stale), and a
    tampered sidecar refuses at the file level."""
    import pytest

    from dataworks_spark import queries as Q
    from dataworks_spark.llm.dedup import (
        load_winnow_postings,
        save_winnow_postings,
        winnow_fingerprint_relation,
        winnow_pairs_from_fingerprints,
        winnow_pairs_from_postings,
        winnow_postings,
    )
    from dataworks_spark.session import table_fingerprint, table_path

    d = Q._t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    fps = winnow_fingerprint_relation(d)
    postings = winnow_postings(fps)

    def key(df):
        return sorted((r.doc_a, r.doc_b, r.n_shared) for r in df.collect())

    for max_df in (50, 2):
        assert key(winnow_pairs_from_postings(postings, max_df=max_df)) == key(
            winnow_pairs_from_fingerprints(fps, max_df=max_df)
        )

    corpus_fp = table_fingerprint(spark, table_path(sf_dir, "documents"))
    p = str(tmp_path / "postings")
    save_winnow_postings(postings, p, source_fingerprint=corpus_fp)
    loaded = load_winnow_postings(spark, p, expect_fingerprint=corpus_fp)
    assert key(winnow_pairs_from_postings(loaded, max_df=50)) == key(
        winnow_pairs_from_postings(postings, max_df=50)
    )
    with pytest.raises(ValueError, match="stale index"):
        load_winnow_postings(spark, p, expect_fingerprint="0" * 32)
    # sidecar saved WITHOUT a source fingerprint: an expectation refuses
    p2 = str(tmp_path / "postings_nofp")
    save_winnow_postings(postings, p2)
    load_winnow_postings(spark, p2)  # legacy trust-the-path
    with pytest.raises(ValueError, match="stale index"):
        load_winnow_postings(spark, p2, expect_fingerprint=corpus_fp)
    # file-level tamper always refuses
    import glob as _glob

    part = _glob.glob(f"{p}/*.parquet")[0]
    with open(part, "ab") as f:
        f.write(b"\x00")
    with pytest.raises(RuntimeError, match="outside the engine"):
        load_winnow_postings(spark, p, expect_fingerprint=corpus_fp)


def test_winnow_postings_max_keep_df_hot_key(spark):
    """r16 (r15 VERDICT #5): ``max_keep_df`` bounds the collected doc
    list under a planted hot fingerprint — the hot fp survives as
    (fp, ds=NULL, exact df) so the stored asset still serves df
    statistics, pair outputs are unchanged for every policy within the
    cap, and banding PAST the cap raises instead of silently dropping
    pairs. Plan check: the capped build shuffles on fp exactly once,
    and the df/row-number filter sits below the collect_list
    aggregates, so the hot fp's doc list never enters an aggregation
    buffer."""
    import pytest

    from dataworks_spark.llm.dedup import (
        winnow_fingerprint_relation,
        winnow_pairs_from_postings,
        winnow_postings,
    )

    boiler = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, boiler) for i in range(30)] + [
        (200, "red green blue cyan shared pair one two"),
        (201, "red green blue cyan shared pair one two"),
        (202, "red green blue cyan shared pair one two three"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprint_relation(d)
    legacy = winnow_postings(fps)
    capped = winnow_postings(fps, max_keep_df=10)
    assert capped.schema.simpleString() == (
        "struct<fp:string,ds:array<bigint>,df:bigint>"
    )

    def key(df):
        return sorted((r.doc_a, r.doc_b, r.n_shared) for r in df.collect())

    for max_df in (10, 5, 2):
        a = key(winnow_pairs_from_postings(legacy, max_df=max_df))
        assert key(winnow_pairs_from_postings(capped, max_df=max_df)) == a
        if max_df >= 5:
            assert a  # the planted near-dup family must actually pair
    hot = capped.filter(F.col("ds").isNull()).collect()
    assert hot and all(r.df > 10 for r in hot)  # exact df, bounded ds
    # every kept row's list is complete and within the cap
    kept = capped.filter(F.col("ds").isNotNull())
    assert kept.filter(
        (F.size("ds") != F.col("df")) | (F.col("df") > 10)
    ).count() == 0
    # a policy past the build cap must refuse loudly at execution
    # (max_df=30 keeps the hot fp — df=30 — whose ds was truncated)
    with pytest.raises(Exception, match="max_keep_df"):
        winnow_pairs_from_postings(capped, max_df=30).count()
    with pytest.raises(ValueError, match="max_keep_df"):
        winnow_postings(fps, max_keep_df=0)
    # plan: ONE fp-keyed exchange feeds both windows and the aggregate,
    # and the collect_list aggregates (final and partial) read the
    # window's capped rows — the __rn/df filter sits BELOW both
    plan = capped._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[-1]  # one tree if AQE ran
    assert plan.count("Exchange hashpartitioning(fp") == 1, plan[:3000]
    lines = plan.splitlines()
    agg_line = max(i for i, ln in enumerate(lines) if "collect_list" in ln)
    filter_line = next(
        i for i, ln in enumerate(lines)
        if "Filter" in ln and "__rn" in ln and "df" in ln
    )
    assert agg_line < filter_line, plan[:3000]


def test_minhash_inline_cap_filters_before_collect(spark):
    """r16 (r15 VERDICT #5): the inline ``max_bucket`` guard semi-joins
    surviving bucket keys BEFORE the doc lists are collected — a
    planted hot bucket (40 identical docs) never materializes its
    40-element array in the aggregation buffer. Pair parity with the
    survivors-asset form is pinned by
    test_prebuilt_survivors_and_checkpoint_free_parity; this pins the
    PLAN: the collect aggregate's child contains the semi-join."""
    from dataworks_spark.llm.dedup import (
        minhash_pairs_from_signatures,
        minhash_signatures,
    )

    family = "license header boilerplate text repeated verbatim on every page"
    rows = [(i, family) for i in range(40)] + [
        (100, "the quick brown fox jumps over the lazy dog again today"),
        (101, "the quick brown fox jumps over the lazy dog again tomorrow"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures(df, "doc_id", "text", n_hashes=64).persist()
    sig.count()
    try:
        pairs = minhash_pairs_from_signatures(
            sig, 64, 16, threshold=0.3, max_bucket=10
        )
        got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
        assert (100, 101) in got
        assert not any(x < 100 and y < 100 for x, y in got)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        agg_pos = plan.find("collect_list")
        semi_pos = plan.find("LeftSemi")
        assert 0 <= agg_pos < semi_pos, plan[:2000]
    finally:
        sig.unpersist()


def test_incremental_corpus_refuses_tampered_dir(spark, tmp_path):
    """r15: the incremental corpus stamps its fingerprint after every
    append — a torn append (crash mid-write) or out-of-band edit
    refuses at the next read instead of silently serving a partial
    corpus; deleting the stamp is the explicit re-baseline."""
    import glob

    import pytest

    from dataworks_spark.llm.incremental import IncrementalCorpus

    corp = IncrementalCorpus(spark, str(tmp_path / "corpus"))
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    assert corp.ingest(b1) == 2
    assert corp.read().count() == 2  # stamped append verifies

    part = glob.glob(str(tmp_path / "corpus" / "*.parquet"))[0]
    with open(part, "rb") as f:
        data = f.read()
    with open(part + ".torn.parquet", "wb") as f:
        f.write(data[: len(data) // 2])  # the torn-append shape
    with pytest.raises(RuntimeError, match="outside the engine"):
        corp.read()
    # and ingest's dedup pass reads the corpus (mirror-less config) —
    # it must refuse too rather than dedup against torn files
    with pytest.raises(RuntimeError, match="outside the engine"):
        corp.ingest(b1)

    import os

    os.remove(part + ".torn.parquet")
    assert corp.read().count() == 2
    (tmp_path / "corpus" / "_dw_meta.json").unlink()
    assert corp.read().count() == 2  # legacy/stampless still loads


def test_corpus_shards_are_stamped(spark, tmp_path):
    """r15: write_corpus_shards stamps the output; the downstream
    trainer can verify the shards are the bytes this job wrote."""
    from dataworks_spark.llm.pipeline import write_corpus_shards
    from dataworks_spark.session import verify_table_meta

    df = spark.createDataFrame(
        [(i, "train" if i % 4 else "val", f"text {i}") for i in range(40)],
        "doc_id long, split string, text string",
    )
    p = str(tmp_path / "shards")
    write_corpus_shards(df, p, files_per_partition=2)
    meta = verify_table_meta(spark, p, what="corpus shards")
    assert meta and meta["writer"] == "corpus_shards"
    (tmp_path / "shards" / "split=train" / "planted.parquet").write_bytes(b"x")
    import pytest

    with pytest.raises(RuntimeError, match="outside the engine"):
        verify_table_meta(spark, p, what="corpus shards")


def test_semantic_assigned_seam_matches_inline(spark, sf_dir):
    """r15: semantic_dedup_pairs(assigned=) — the ingest-time assigned
    relation seam — emits bit-equal pairs to the inline path on BOTH
    scorers, with and without the max_cluster guard."""
    from dataworks_spark import queries as Q
    from dataworks_spark.llm.similarity import (
        ivf_train,
        semantic_assign,
        semantic_dedup_pairs,
    )

    e = Q._t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    cents = ivf_train(e, "embedding", n_centroids=6)
    asg = semantic_assign(e, "vec_id", "embedding", cents).persist()
    asg.count()

    def key(df):
        return sorted(
            (r.id_a, r.id_b, round(r.cos_sim, 9)) for r in df.collect()
        )

    try:
        for scorer in ("gram", "expr"):
            for mc in (None, 32):
                inline = semantic_dedup_pairs(
                    e, "vec_id", "embedding", threshold=0.35,
                    centroids=cents, scorer=scorer, max_cluster=mc,
                )
                seamed = semantic_dedup_pairs(
                    e, "vec_id", "embedding", threshold=0.35,
                    centroids=cents, scorer=scorer, max_cluster=mc,
                    assigned=asg,
                )
                assert key(seamed) == key(inline), (scorer, mc)
    finally:
        asg.unpersist()
