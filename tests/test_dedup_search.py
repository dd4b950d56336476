"""Dedup + search + ANN operator tests on fixtures with planted ground
truth."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pubcrawler_spark.operators import ann, dedup, search


@pytest.fixture(scope="module")
def docs(spark):
    """60 docs: 3 exact-dup groups, 3 planted near-dup pairs, rest random."""
    rng = np.random.default_rng(42)
    vocab = ["spark", "query", "table", "join", "scan", "filter", "merge",
             "stream", "window", "batch", "vector", "hash", "sort", "group"]
    rows = []
    for i in range(50):
        words = [vocab[int(rng.integers(len(vocab)))] for _ in range(40)]
        rows.append((i, " ".join(words)))
    # exact dups (normalized): 50/51 differ only in whitespace/case
    rows.append((50, rows[0][1].upper()))
    rows.append((51, "  " + rows[1][1].replace(" ", "  ") + " "))
    # near dups: copy with one word changed
    for j, base in enumerate([2, 3, 4]):
        w = rows[base][1].split()
        w[5] = "changed"
        rows.append((52 + j, " ".join(w)))
    return spark.createDataFrame(rows, "doc_id long, text string"), rows


def test_exact_dup_groups(spark, docs):
    df, rows = docs
    got = {(r["keep_id"], r["n_dups"]) for r in dedup.exact_dup_groups(df, "doc_id").collect()}
    assert (0, 2) in got and (1, 2) in got
    assert len(got) == 2


def test_ngram_jaccard_finds_planted_pairs(spark, docs):
    df, _ = docs
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             dedup.ngram_jaccard_pairs(df, "doc_id", threshold=0.8).collect()}
    for base, dup in [(2, 52), (3, 53), (4, 54)]:
        assert (base, dup) in pairs, pairs
    # exact dups after normalization have jaccard 1.0
    assert (0, 50) in pairs and (1, 51) in pairs


def test_minhash_lsh_finds_planted_pairs(spark, docs):
    df, _ = docs
    got = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in
           dedup.minhash_lsh_pairs(df, "doc_id", verify_threshold=0.5).collect()}
    for pair in [(0, 50), (1, 51), (2, 52), (3, 53), (4, 54)]:
        assert pair in got, (pair, sorted(got))
        assert got[pair] >= 0.5


def test_simhash_finds_exact_dups(spark, docs):
    df, _ = docs
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             dedup.simhash_pairs(df, "doc_id", max_hamming=6, n_chunks=8).collect()}
    assert (0, 50) in pairs and (1, 51) in pairs  # hamming 0 after norm...


def test_simhash_chunk_configs_agree(spark, docs):
    """Pigeonhole recall holds under different (n_chunks, key-width)
    configurations: result set is identical, not just overlapping."""
    df, _ = docs
    p4 = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in
          dedup.simhash_pairs(df, "doc_id", max_hamming=3, n_chunks=4).collect()}
    p6 = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in
          dedup.simhash_pairs(df, "doc_id", max_hamming=3, n_chunks=6).collect()}
    assert p4 == p6
    with pytest.raises(ValueError):  # pigeonhole violated
        dedup.simhash_pairs(df, "doc_id", max_hamming=4, n_chunks=4)


def test_ngram_stop_shingle_cut_bounds_pairs(spark):
    """A planted ubiquitous shingle re-quadratics the self-join without
    the DF cut; with the cut, pair volume is bounded and planted
    near-dups still verify (their jaccard is dominated by rare
    shingles)."""
    boiler = "copyright license footer "  # shared by every doc
    rows = [(i, boiler + f"unique text body number {i} " * 4) for i in range(40)]
    rows.append((40, rows[0][1]))  # planted dup of doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.char_shingles(df, "doc_id", "text", k=5)
    # candidate-pair volume = sum over shingles of df² (what the join materializes)
    def pair_volume(max_df):
        from pyspark.sql import functions as F
        counts = sh.groupBy("shingle").agg(F.count("*").alias("d"))
        if max_df is not None:
            counts = counts.filter(F.col("d") <= max_df)
        return counts.agg(F.sum(F.col("d") * F.col("d"))).collect()[0][0]
    assert pair_volume(10) < pair_volume(None) / 3
    cut_j = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             dedup.ngram_jaccard_pairs(df, "doc_id", threshold=0.5, max_shingle_df=10).collect()}
    # the planted dup is identical so its PRUNED-set jaccard is exactly 1
    assert cut_j.get((0, 40)) == 1.0
    # boilerplate no longer glues unrelated docs together: without the
    # cut every pair shares the ubiquitous shingles, with it only the
    # true dup survives the 0.5 threshold
    assert set(cut_j) == {(0, 40)}
    # default (no cut) path unchanged: exact jaccard over all shingles
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             dedup.ngram_jaccard_pairs(df, "doc_id", threshold=0.99).collect()}
    assert exact.get((0, 40)) == 1.0


def test_winnow_stop_fp_cut_bounds_pairs(spark):
    """Planted boilerplate shared by every doc: without the cut the fp
    equi-join emits a pair row for all d² doc combinations of each
    boilerplate fingerprint; with max_fp_df those fingerprints are
    dropped before the join and only the true dup (which shares its
    rare body fingerprints) survives."""
    from pubcrawler_spark.operators import textstats

    boiler = "standard copyright license footer text appears on every single page "
    rows = [(i, boiler + f"unique text body number {i} " * 6) for i in range(40)]
    rows.append((40, rows[0][1]))  # planted dup of doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")
    no_cut = {(r["doc_a"], r["doc_b"]) for r in
              textstats.winnow_pairs(df, min_shared=2).collect()}
    cut = {(r["doc_a"], r["doc_b"]) for r in
           textstats.winnow_pairs(df, min_shared=2, max_fp_df=10).collect()}
    # boilerplate glues every doc pair together without the cut
    assert len(no_cut) == 41 * 40 // 2
    # with the cut only the true dup remains, and it is still found
    assert cut == {(0, 40)}


def test_embedding_neardup_lsh_superset_of_exact(spark):
    """LSH-candidate mode finds every exact pair (planted + random tail)
    and never reports a pair below threshold (verify step is exact)."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal((200, 32)).astype(np.float32)
    for src, dst in [(3, 103), (50, 150), (77, 177)]:
        base[dst] = base[src] + rng.standard_normal(32).astype(np.float32) * 0.05
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    exact = {(r["id_a"], r["id_b"]) for r in
             dedup.embedding_neardup_pairs(df, threshold=0.9).collect()}
    lsh = {(r["id_a"], r["id_b"]): r["cosine"] for r in
           dedup.embedding_neardup_pairs(df, threshold=0.9, mode="lsh").collect()}
    assert {(3, 103), (50, 150), (77, 177)} <= exact
    assert exact <= set(lsh)
    assert all(c >= 0.9 for c in lsh.values())


def test_embedding_neardup_and_topk(spark):
    rng = np.random.default_rng(42)
    base = rng.standard_normal((20, 16)).astype(np.float32)
    base[7] = base[3] + rng.standard_normal(16).astype(np.float32) * 0.01  # planted near-dup
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in
             dedup.embedding_neardup_pairs(df, threshold=0.95).collect()}
    assert pairs == {(3, 7)}

    # brute-force top-k matches numpy oracle
    q = [float(x) for x in base[3]]
    got = [r["vid"] for r in ann.cosine_topk(df, q, k=5).collect()]
    m = base.astype(np.float64)
    sims = (m @ np.array(q)) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    want = list(np.lexsort((np.arange(20), -np.round(sims, 6)))[:5])
    assert got == [int(w) for w in want]
    assert got[0] == 3 and got[1] == 7

    # pandas variant agrees on membership and order
    got_pd = [r["vid"] for r in ann.cosine_topk_pandas(df, q, k=5).collect()]
    assert got_pd == got

    # LSH path: top result must include the true nearest neighbors
    got_lsh = [r["vid"] for r in ann.lsh_bucket_topk(df, q, k=3, n_bits=8, probe_hamming=4).collect()]
    assert got_lsh[0] == 3


def test_ivf_topk_recall_and_exact_degradation(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((300, 24)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    q = [float(x) for x in base[42]]
    exact = [r["vid"] for r in ann.cosine_topk(df, q, k=10).collect()]
    # probing ALL centroids degrades to the exact scan (recall 1)
    allprobe = [r["vid"] for r in ann.ivf_topk(df, q, k=10, n_centroids=8, n_probe=8).collect()]
    assert allprobe == exact
    # partial probe: self-hit survives and overlap is substantial
    part = [r["vid"] for r in ann.ivf_topk(df, q, k=10, n_centroids=8, n_probe=3).collect()]
    assert part[0] == 42
    assert len(set(part) & set(exact)) >= 5
    # deterministic across runs (seeded quantizer)
    again = [r["vid"] for r in ann.ivf_topk(df, q, k=10, n_centroids=8, n_probe=3).collect()]
    assert again == part


def test_ensure_columns_padding(spark):
    from pubcrawler_spark.operators.analytics import ensure_columns

    df = spark.createDataFrame([("t", None, 3)], "title string, abstract string, n int")
    out = ensure_columns(df, ["title", "abstract", "keywords", "source_url"])
    assert out.columns == ["title", "abstract", "keywords", "source_url", "n"]
    r = out.collect()[0]
    # missing → '', existing string nulls → '', non-string untouched
    assert (r["keywords"], r["source_url"], r["abstract"], r["n"]) == ("", "", "", 3)


def test_keyword_search_compiler(spark, docs):
    df, rows = docs
    df2 = df.withColumn("source", F.concat(F.lit("src"), (F.col("doc_id") % 3).cast("string")))
    out = search.keyword_search(df2, 'source:src1 "spark"', ["text"], "doc_id").collect()
    assert out, "query should match something"
    for r in out:
        assert r["source"] == "src1"
        assert " spark" in " " + r["text"]
    # field-scoped phrase + general term parse
    fields, general = search.parse_query('author:"john smith" title:bert attention')
    assert fields == [("authors", "john smith"), ("title", "bert")]
    assert general == ["attention"]


def test_verify_pairs_exact_equals_allpairs(spark, docs):
    """The two-stage verified plan (sketch candidates → exact-Jaccard
    verify, the q51/q52 shape) must EQUAL the exact all-pairs operator
    whenever the candidate set's recall at the threshold is 1 — that
    equality is what lets a DuckDB oracle value-check a murmur3-sketch
    family. The planted corpus is a 14-word-vocab worst case whose
    random docs generate a soup of borderline ~0.36-Jaccard pairs LSH
    cannot reliably catch (catch prob ≈ 1−(1−s⁴)¹⁶ ≈ 0.2 at s=0.36),
    so the equality is pinned at τ=0.6 here — above the soup, where
    recall is 1 by the same formula (≈1−1e-5 at the planted pairs'
    s≈0.85). The sf-fixture recall at the q51/q52 production τ=0.35 is
    what the driver's DuckDB oracle itself pins every round."""
    df, _rows = docs
    exact5 = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(df, "doc_id", "text", k=5, threshold=0.6).collect()
    }
    assert exact5  # planted near-dups must surface
    mh_cand = dedup.minhash_lsh_pairs(
        df, "doc_id", "text", k=5, n_perm=64, bands=16, verify_threshold=None
    )
    got5 = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.verify_pairs_exact(mh_cand, df, "doc_id", "text", k=5, threshold=0.6).collect()
    }
    assert got5 == exact5

    from pubcrawler_spark.operators import textstats

    exact8 = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(df, "doc_id", "text", k=8, threshold=0.6).collect()
    }
    assert exact8
    wn_cand = textstats.winnow_pairs(
        df, "doc_id", "text", k=8, window=4, min_shared=2, min_shared_frac=0.2
    )
    got8 = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.verify_pairs_exact(wn_cand, df, "doc_id", "text", k=8, threshold=0.6).collect()
    }
    assert got8 == exact8

    # empty/short docs degrade to empty shingle sets, not errors
    edge = spark.createDataFrame([(0, ""), (1, None), (2, "abc"), (3, "abc")],
                                 "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 1), (2, 3)], "doc_a long, doc_b long")
    out = {(r.doc_a, r.doc_b, r.jaccard)
           for r in dedup.verify_pairs_exact(pairs, edge, "doc_id", "text", k=3, threshold=0.5).collect()}
    assert out == {(2, 3, 1.0)}


def test_dedup_groups_transitive(spark):
    """Chains must collapse into ONE group (A~B, B~C => {A,B,C} even
    when A~C was never emitted as a pair) — the over-deletion-free
    keep/drop resolution naive drop-doc_b policies get wrong."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # 4-chain -> one component, keep 1
         (10, 11),                    # simple pair
         (20, 22), (21, 22)],         # star via max node
        "doc_a long, doc_b long",
    )
    got = {(r.comp, r.n_docs, r.keep_id) for r in dedup.dedup_groups(pairs).collect()}
    assert got == {(1, 4, 1), (10, 2, 10), (20, 3, 20)}

    labels = {r.node: r.comp for r in dedup.connected_components(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_deduplicated_corpus_broadcast_gate(spark):
    """The drop-set anti-join broadcasts under the limit and runs as a
    distributed shuffle anti-join past it (broadcast_limit=0) — same
    kept corpus either way; chains keep only the min-id doc."""
    docs = spark.createDataFrame([(i, f"text {i}") for i in range(6)],
                                 "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    labels = dedup.connected_components(pairs)

    bcast = dedup.deduplicated_corpus(docs, labels, "doc_id")
    dist = dedup.deduplicated_corpus(docs, labels, "doc_id", broadcast_limit=0)
    assert "ResolvedHint" in bcast._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in dist._jdf.queryExecution().analyzed().toString()
    kept_b = {r.doc_id for r in bcast.collect()}
    kept_d = {r.doc_id for r in dist.collect()}
    assert kept_b == kept_d == {0, 1, 4, 5}
