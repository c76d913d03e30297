"""Extension ops: document dedup family, text analysis, embedding ANN.

Functional tests on planted fixtures — the DuckDB value parity runs in
test_oracle_parity.py; here we pin behavior (planted dups found, planted
neighbors ranked first, signatures invariant where they must be).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF0001, rows
from w_userflow_featurestore_spark.operators import dedup as DD
from w_userflow_featurestore_spark.operators import similarity as SIM
from w_userflow_featurestore_spark.operators import text as TX

BASE = ("the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight")
NEAR = BASE.replace("green", "dark")          # one word differs
FAR = ("completely different content about spark query engines and "
       "distributed columnar storage systems performance")


def _docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, FAR), (4, BASE)],   # 4 == exact dup of 1
        "doc_id long, text string")


def test_exact_dedup_groups_and_survivor(spark):
    out = {r["doc_id"]: r for r in DD.exact_dedup(_docs(spark)).collect()}
    assert out[1]["dup_count"] == 2 and out[4]["dup_count"] == 2
    assert out[1]["keep"] == 1 and out[4]["keep"] == 0      # lowest id wins
    assert out[2]["dup_count"] == 1 and out[2]["keep"] == 1
    assert out[1]["content_hash"] == out[4]["content_hash"]


def test_normalization_ignores_case_and_punct(spark):
    docs = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello   world")], "doc_id long, text string")
    out = DD.exact_dedup(docs).collect()
    assert all(r["dup_count"] == 2 for r in out)


def test_minhash_lsh_finds_planted_near_dup(spark):
    pairs = rows(DD.minhash_lsh_dedup(_docs(spark), min_est_jaccard=0.5),
                 "doc_a", "doc_b")
    assert (1, 4) in pairs                    # exact dup: always caught
    assert (1, 2) in pairs or (2, 4) in pairs  # near dup caught by banding
    assert all(3 not in p for p in pairs)     # unrelated doc never pairs


def test_ngram_jaccard_exact_values(spark):
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in DD.ngram_jaccard_pairs(_docs(spark), threshold=0.5).collect()}
    assert out[(1, 4)] == 1.0                 # identical -> J=1
    assert 0.5 <= out[(1, 2)] < 1.0           # one word changed -> high J
    assert all(3 not in k for k in out)


def test_simhash_invariance_and_near_pairs(spark):
    sigs = {r["doc_id"]: r["simhash"]
            for r in DD.simhash(_docs(spark)).collect()}
    assert sigs[1] == sigs[4]                 # identical text, same signature
    assert sigs[1] != sigs[3]
    near = rows(DD.simhash_near_pairs(DD.simhash(_docs(spark)),
                                      max_hamming=8), "doc_a", "doc_b")
    assert (1, 4) in near


def test_text_profile_counts_and_langid(spark):
    docs = spark.createDataFrame([
        (1, "the cat and the dog of the house"),
        (2, "der hund und die katze ist das haus"),
        (3, "xyzzy qwerty plugh"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in TX.text_profile(docs).collect()}
    assert out[1]["lang_pred"] == "en"
    assert out[2]["lang_pred"] == "de"
    assert out[3]["lang_pred"] == "und"
    assert out[1]["n_tokens_ws"] == 8
    assert out[1]["n_chars_raw"] == len("the cat and the dog of the house")
    assert all(0.0 <= r["quality"] <= 1.0 for r in out.values())


def test_token_count_bpe_counts_symbols(spark):
    docs = spark.createDataFrame([(1, "ab12cd, ef!")], "doc_id long, text string")
    r = TX.text_profile(docs).collect()[0]
    # BPE-ish: ab | 12 | cd | , | ef | !  -> 6 tokens
    # ws (normalized "ab12cd ef"): 2 tokens — punctuation collapses
    assert r["n_tokens_bpe"] == 6
    assert r["n_tokens_ws"] == 2


def test_fingerprint_detects_shared_window(spark):
    # identical docs share the fingerprint; a doc with a disjoint minimal
    # 5-gram differs
    docs = spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, FAR)], "doc_id long, text string")
    out = {r["doc_id"]: r["fingerprint"]
           for r in TX.text_profile(docs).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_curate_corpus_drops_dups_and_low_quality(spark):
    from w_userflow_featurestore_spark.operators.curate import curate_corpus
    docs = spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, FAR), (4, BASE), (5, "x y")],
        "doc_id long, text string")
    kept = {r["doc_id"] for r in
            curate_corpus(docs, min_quality=0.4, near_threshold=0.5).collect()}
    assert 4 not in kept          # exact dup of 1 (higher id loses)
    assert 2 not in kept          # near dup of 1 (higher id loses)
    assert 5 not in kept          # 2-token doc (quality 0.30) under floor
    assert 1 in kept and 3 in kept


def _vecs(spark):
    # v1 ~ v2 (tiny perturbation), v3 orthogonal-ish, v4 opposite of v1
    return spark.createDataFrame([
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
    ], "vec_id long, embedding array<double>")


def test_brute_force_topk_ranks_planted_neighbor(spark):
    emb = _vecs(spark)
    out = SIM.brute_force_topk(emb, emb.where(F.col("vec_id") == 1), k=3)
    got = [(r["n_id"], r["rank"]) for r in
           sorted(out.collect(), key=lambda r: r["rank"])]
    assert got[0] == (2, 1)                   # nearest = planted neighbor
    assert got[-1][0] == 4                    # opposite vector ranks last
    cos = {r["n_id"]: r["cosine"] for r in out.collect()}
    assert cos[4] == -1.0 and cos[3] == 0.0


def test_lsh_bucket_deterministic_and_separating(spark):
    emb = _vecs(spark)
    out = {r["vec_id"]: r["bucket"]
           for r in SIM.lsh_bucket_assignments(emb, planes=8, dims=4).collect()}
    assert out[1] != out[4]                   # opposite vectors never collide
    again = {r["vec_id"]: r["bucket"]
             for r in SIM.lsh_bucket_assignments(emb, planes=8, dims=4).collect()}
    assert out == again                       # fully deterministic


def test_lsh_topk_high_recall_on_fixture(spark):
    from w_userflow_featurestore_spark.sources import read_table
    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    exact = {(r["q_id"], r["n_id"])
             for r in SIM.brute_force_topk(emb, q, k=5).collect()}
    approx = {(r["q_id"], r["n_id"])
              for r in SIM.lsh_topk(emb, q, k=5, planes=4).collect()}
    # 4-plane single-table LSH: expect to recover a solid fraction of the
    # true top-5 (clustered fixture); pin a conservative floor
    assert len(exact & approx) / len(exact) >= 0.4


def test_embedding_near_pairs_and_dedup(spark):
    emb = _vecs(spark)
    pairs = SIM.embedding_near_pairs(emb, threshold=0.9, dims=4)
    got = {(r["doc_a"], r["doc_b"]): r["cosine"] for r in pairs.collect()}
    assert (1, 2) in got and got[(1, 2)] >= 0.99   # planted near-pair found
    assert all(a < b for a, b in got)              # canonical a<b ordering
    assert (1, 4) not in got                       # opposite vectors excluded
    kept = {r["vec_id"]
            for r in SIM.embedding_dedup(emb, threshold=0.9, dims=4).collect()}
    assert 2 not in kept                           # higher id of the pair loses
    assert {1, 3, 4} <= kept


def test_ivf_fit_is_deterministic_and_model_sized(spark):
    from w_userflow_featurestore_spark.sources import read_table
    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    c1 = SIM.ivf_fit_centroids(emb, n_centroids=8)
    c2 = SIM.ivf_fit_centroids(emb, n_centroids=8)
    assert c1 == c2 and len(c1) == 8 and len(c1[0]) == 64


def test_ivf_cell_partition_and_probe_superset(spark):
    from w_userflow_featurestore_spark.sources import read_table
    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    model = SIM._fit(emb, 8, "vec_id", "embedding")
    n = SIM._quantized(emb, "vec_id", "embedding", "vec_id", "qv")
    cells = (SIM._assign_cells(n, "vec_id", "qv", model)
                .groupBy("cell").count().collect())
    assert {r["cell"] for r in cells} <= set(range(8))   # valid cell ids
    assert len(cells) > 1                                # corpus actually splits
    # nprobe=1's probe list is the rank-1 prefix of nprobe=2's
    q = SIM._quantized(emb.where(F.col("vec_id") < 3), "vec_id",
                       "embedding", "q_id", "q_vec", spread=False)
    p2 = {}
    for r in SIM._probe(q, model.cells, 2).collect():
        p2.setdefault(r["q_id"], {})[r["probe_rank"]] = r["cell"]
    p1 = {r["q_id"]: r["cell"]
          for r in SIM._probe(q, model.cells, 1).collect()}
    assert set(p2) == set(p1) == {0, 1, 2}
    for qid, ranked in p2.items():
        assert sorted(ranked) == [1, 2] and ranked[1] != ranked[2]
        assert p1[qid] == ranked[1]


def test_quantizer_reads_cell_count_and_dims_off_the_data(spark):
    """The centroid model's cell count and vector length come from the
    fitted centroids, not from a caller-supplied dims: a 4-dim corpus
    of 4 vectors asked for 8 cells yields a 4-cell, 4-dim model, and
    every vector (each one a centroid) lands in its own cell."""
    emb = _vecs(spark)
    model = SIM._fit(emb, 8, "vec_id", "embedding")
    assert (model.n_cells, model.dims) == (4, 4)
    assert SIM._fit(emb, 2, "vec_id", "embedding")[1:] == (2, 4)
    n = SIM._quantized(emb, "vec_id", "embedding", "vec_id", "qv")
    cells = {r["vec_id"]: r["cell"] for r in
             SIM._assign_cells(n, "vec_id", "qv", model).collect()}
    assert sorted(cells.values()) == [0, 1, 2, 3]
    out = SIM.cluster_balanced_sample(emb, per_cluster=1,
                                      n_centroids=8).collect()
    assert {r["vec_id"]: r["cell"] for r in out} == cells


def test_quantizer_cells_are_a_jvm_literal_relation(spark):
    """The centroid frame is built JVM-side (no pickled Python RDD
    behind it) and keeps its schema when there are no centroids."""
    from w_userflow_featurestore_spark.plans import physical_plan
    model = SIM._quantizer(spark, [[3, -1], [0, 7], [5, 5]])
    assert "ExistingRDD" not in physical_plan(model.cells)
    assert (model.n_cells, model.dims) == (3, 2)
    assert sorted((r["cell"], list(r["cv"]))
                  for r in model.cells.collect()) == [
        (0, [3, -1]), (1, [0, 7]), (2, [5, 5])]
    empty = SIM._quantizer(spark, [])
    assert (empty.n_cells, empty.dims) == (0, 0)
    assert empty.cells.dtypes == model.cells.dtypes == [
        ("cell", "bigint"), ("cv", "array<bigint>")]
    assert empty.cells.count() == 0


def test_ivf_topk_matches_brute_force_within_probed_cells(spark):
    from w_userflow_featurestore_spark.sources import read_table
    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    exact = {(r["q_id"], r["n_id"])
             for r in SIM.brute_force_topk(emb, q, k=5).collect()}
    ivf = SIM.ivf_topk(emb, q, k=5, n_centroids=8, nprobe=2)
    got = ivf.collect()
    assert len(got) == 5 * q.count()               # full top-5 per query
    # results are real corpus neighbors ranked by exact cosine
    recall = len(exact & {(r["q_id"], r["n_id"]) for r in got}) / len(exact)
    assert recall >= 0.3                           # 2/8 cells probed


def test_assign_cells_gate_is_dims_aware_and_forms_agree(spark):
    """The encoded-BIGINT fast path in _assign_cells must be gated on dims * (2*SCALE)^2 * n_cells
    fitting int64, not on a fixed n_cells threshold — at dims >= 143
    the old n_cells<=16384 gate let d * n_cells silently overflow and
    mis-assign cells. Pins (a) both forms agree where the fast path is
    legal, (b) an overflow-risky dims takes the struct form (whose
    plan has a min_by SortAggregate, detectable via 'sort' in the
    plan) and still assigns correctly."""
    from w_userflow_featurestore_spark.operators.similarity import (
        SCALE, _assign_cells)
    from w_userflow_featurestore_spark.sources import read_table
    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    model = SIM._fit(emb, 8, "vec_id", "embedding")
    assert (model.n_cells, model.dims) == (8, 64)
    n = SIM._quantized(emb, "vec_id", "embedding", "_id", "_vec")
    fast = _assign_cells(n, "_id", "_vec", model)
    # dims=64: 64 * (2e6)^2 * 9 = 2.3e15 << 2^63 — fast path legal
    assert 64 * (2 * SCALE) ** 2 * 9 < 2 ** 63
    # an overflow-risky dims (1024 dims x 2^21 cells would wrap):
    # force the struct form through a model whose dims is oversized
    big_dims = 2 ** 63 // ((2 * SCALE) ** 2 * 9) + 1
    safe = _assign_cells(n, "_id", "_vec", model._replace(dims=big_dims))
    # the risky dims actually selected the min_by struct form
    plan_fast = fast._jdf.queryExecution().optimizedPlan().toString()
    plan_safe = safe._jdf.queryExecution().optimizedPlan().toString()
    assert "min_by" not in plan_fast and "min_by" in plan_safe
    got_fast = {r["_id"]: r["cell"] for r in fast.collect()}
    got_safe = {r["_id"]: r["cell"] for r in safe.collect()}
    assert got_fast == got_safe and got_fast  # forms agree, non-empty


def test_connected_components_long_chain_converges(spark):
    # a 13-node chain (diameter 12 >> a near-dup cluster's 2-3, but
    # inside the default 50-round budget): min-label propagation must
    # still collapse it into ONE component rooted at the smallest id
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(100, 101)],
        "doc_a long, doc_b long")
    got = {r["doc_id"]: (r["component"], r["keep"])
           for r in DD.connected_components(pairs).collect()}
    assert all(got[i][0] == 0 for i in range(13))
    assert [i for i in range(13) if got[i][1] == 1] == [0]
    assert got[100] == (100, 1) and got[101] == (100, 0)


def test_connected_components_bails_out_past_max_iter(spark):
    import pytest as _pytest
    # diameter 9 chain with a 4-round budget: must raise, never return
    # silently under-merged labels (duplicates would survive a partial
    # merge — the worst dedup failure mode)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long")
    with _pytest.raises(RuntimeError, match="max_iter=4"):
        DD.connected_components(pairs, max_iter=4)
    # the same graph converges with an adequate budget
    got = DD.connected_components(pairs, max_iter=20)
    assert got.where("component <> 0").count() == 0


def test_fingerprint_pairs_detects_copied_span_and_caps_hot_prints(spark):
    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, f"intro one. {shared}. outro alpha beta gamma delta"),
         (2, f"completely different start. {shared}. other ending words"),
         (3, "unrelated text about spark catalyst optimizer internals")],
        "doc_id long, text string")
    got = TX.fingerprint_pairs(docs, min_shared=2).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["n_shared"] for r in got}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2     # copied span found
    assert all(p == (1, 2) for p in pairs)            # doc 3 never pairs
    # stop-fingerprint cap: prints in >1 docs dropped -> no pairs at all
    assert TX.fingerprint_pairs(docs, min_shared=1,
                                max_doc_freq=1).count() == 0


def test_uncapped_fingerprint_pairs_equal_an_inverted_index_self_join(spark):
    """``max_doc_freq=None`` only drops the document-frequency filter:
    the array expansion counts exactly what a plain posting-list
    self-join over the winnowing fingerprints counts."""
    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, f"intro one. {shared}. outro alpha beta gamma delta"),
         (2, f"completely different start. {shared}. other ending words"),
         (3, f"{shared} and nothing else"),
         (4, "unrelated text about spark catalyst optimizer internals"),
         (5, "unrelated text about spark catalyst optimizer internals")],
        "doc_id long, text string")
    fp = TX.winnow_fingerprints(docs)
    a, b = fp.alias("a"), fp.alias("b")
    ref = (a.join(b, (F.col("a.fingerprint") == F.col("b.fingerprint"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_shared")))
    got = TX.fingerprint_pairs(docs, min_shared=1, max_doc_freq=None)
    expected = rows(ref)
    assert {(1, 2), (1, 3), (2, 3), (4, 5)} <= {p[:2] for p in expected}
    assert rows(got) == expected


def test_line_dedup_removes_corpus_hot_lines(spark):
    docs = spark.createDataFrame(
        [(1, "unique one\ncopyright footer\n\nbody text a"),
         (2, "unique two\ncopyright footer\nbody text b"),
         (3, "copyright footer\nunique three"),
         (4, "copyright footer"),           # only boilerplate -> drops out
         (5, "  copyright footer  \nkept tail")],   # trim-normalized match
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in TX.line_dedup(docs).collect()}
    # "copyright footer" occurs 5x (> max_occurrences=2) -> gone everywhere
    assert 4 not in out
    assert out[1]["clean_text"] == "unique one\nbody text a"
    assert out[1]["n_lines_kept"] == 2
    assert out[1]["n_lines_dropped"] == 2        # footer + empty line
    assert out[2]["clean_text"] == "unique two\nbody text b"
    assert out[3]["clean_text"] == "unique three"
    assert out[5]["clean_text"] == "kept tail"
    # lines under the cap survive even when repeated twice
    docs2 = spark.createDataFrame(
        [(1, "twice seen\nalpha"), (2, "twice seen\nbeta")],
        "doc_id long, text string")
    out2 = {r["doc_id"]: r["clean_text"]
            for r in TX.line_dedup(docs2).collect()}
    assert out2 == {1: "twice seen\nalpha", 2: "twice seen\nbeta"}


def test_duplicate_spans_finds_planted_substring_dups(spark):
    """ExactSubstr-style span semantics: cross-doc shared runs, within-
    doc self-repetition, island merging across overlapping/adjacent
    grams, and separated spans staying separate."""
    docs = spark.createDataFrame(
        [(1, "aaa bbb ccc ddd eee fff ggg hhh"),
         (2, "xxx yyy aaa bbb ccc ddd eee zzz"),   # shares a 5-token run
         (3, "p q r s t p q r s t"),               # self-repetition
         (4, "one two three four five"),           # fully unique
         (5, "m1 m2 m3 m4 g1 g2 g3 g4 g5 n1 n2 n3 n4"),
         (6, "m1 m2 m3 m4 h1 h2 h3 h4 h5 n1 n2 n3 n4")],
        "doc_id long, text string")
    got = {(r["doc_id"], r["span_start"], r["span_end"],
            r["span_tokens"], r["n_grams"])
           for r in TX.duplicate_spans(docs, k=4).collect()}
    assert got == {
        # docs 1/2 share "aaa bbb ccc ddd eee": two overlapping 4-grams
        # merge into one 5-token span on each side
        (1, 1, 5, 5, 2),
        (2, 3, 7, 5, 2),
        # doc 3 repeats "p q r s t": hits at 1,2,6,7; the 2->6 gap is
        # exactly k so coverage is contiguous and all merge
        (3, 1, 10, 10, 4),
        # docs 5/6 share two runs separated by >k unique tokens: two
        # distinct spans each, never bridged
        (5, 1, 4, 4, 1), (5, 10, 13, 4, 1),
        (6, 1, 4, 4, 1), (6, 10, 13, 4, 1),
    }
    # doc 4 has no duplicated gram and emits nothing
    assert not any(d == 4 for d, *_ in got)


def test_incremental_duplicate_spans_probes_ledger_not_corpus(spark):
    """Ledger semantics: a batch span exists because the CORPUS holds
    the other occurrence (cross-batch dup), a batch-internal repeat is
    hot without any ledger row, and a gram unique across both sides
    emits nothing. Result must equal the full-corpus run restricted to
    the batch."""
    corpus = spark.createDataFrame(
        [(0, "aaa bbb ccc ddd eee fff"),
         (2, "solo corpus words only here")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1, "xxx aaa bbb ccc ddd yyy"),   # dup only via corpus doc 0
         (3, "p q r s p q r s"),           # batch-internal repeat
         (5, "totally unique batch text")],
        "doc_id long, text string")
    ledger = TX.gram_ledger(corpus, k=4)
    got = {(r["doc_id"], r["span_start"], r["span_end"],
            r["span_tokens"], r["n_grams"])
           for r in TX.incremental_duplicate_spans(
               batch, ledger, k=4).collect()}
    assert got == {(1, 2, 5, 4, 1),        # "aaa bbb ccc ddd"
                   (3, 1, 8, 8, 2)}        # self-repeat, islands merge
    full = {(r["doc_id"], r["span_start"], r["span_end"],
             r["span_tokens"], r["n_grams"])
            for r in TX.duplicate_spans(
                corpus.unionByName(batch), k=4).collect()
            if r["doc_id"] % 2 == 1}
    assert got == full


def test_merge_gram_ledger_is_additive(spark):
    """Ledger update = union + re-sum: merging the corpus ledger with a
    batch ledger must equal the ledger built from the combined corpus."""
    a = spark.createDataFrame([(0, "aaa bbb ccc ddd")],
                              "doc_id long, text string")
    b = spark.createDataFrame([(1, "aaa bbb ccc ddd eee")],
                              "doc_id long, text string")
    merged = {(r["gh"], r["occ"])
              for r in TX.merge_gram_ledger(
                  TX.gram_ledger(a, k=3), TX.gram_ledger(b, k=3)
              ).collect()}
    want = {(r["gh"], r["occ"])
            for r in TX.gram_ledger(a.unionByName(b), k=3).collect()}
    assert merged == want and any(occ == 2 for _, occ in merged)


def test_semantic_dedup_drops_in_cell_neighbors_only(spark):
    # 8 orthogonal-ish base vectors + one near-copy of vec 0: only the
    # near-copy (higher id) must be dropped, and cells must partition
    import random
    rnd = random.Random(7)
    dims = 64
    base = [[rnd.uniform(-1, 1) for _ in range(dims)] for _ in range(8)]
    near0 = [v * 0.995 + 0.001 for v in base[0]]
    rows_ = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows_.append((8, [float(x) for x in near0]))
    emb = spark.createDataFrame(rows_, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in
           SIM.semantic_dedup(emb, threshold=0.9, n_centroids=4).collect()}
    assert len(out) == 9                          # one row per input vector
    assert out[8]["is_kept"] is False             # near-copy dropped
    assert out[0]["is_kept"] is True              # lowest id survives
    assert out[0]["cell"] == out[8]["cell"]       # they met inside one cell
    assert sum(1 for r in out.values() if not r["is_kept"]) == 1


def test_cluster_balanced_sample_caps_every_cell(spark):
    # 30 random vectors, 4 cells, 2 per cell: every vector reported
    # once, occupancy sums to the corpus, each cell samples exactly
    # min(2, cluster_size), and the choice is deterministic
    import random
    rnd = random.Random(11)
    rows_ = [(i, [float(rnd.uniform(-1, 1)) for _ in range(64)])
             for i in range(30)]
    emb = spark.createDataFrame(rows_, "vec_id long, embedding array<float>")
    out = SIM.cluster_balanced_sample(emb, per_cluster=2,
                                      n_centroids=4).collect()
    assert len(out) == 30
    assert sum({r["cell"]: r["cluster_size"]
                for r in out}.values()) == 30
    by_cell = {}
    for r in out:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, members in by_cell.items():
        n_sampled = sum(1 for r in members if r["sampled"])
        assert n_sampled == min(2, len(members)), (cell, n_sampled)
    # deterministic: identical sample set on a re-run
    again = SIM.cluster_balanced_sample(emb, per_cluster=2,
                                        n_centroids=4).collect()
    assert ({r["vec_id"] for r in out if r["sampled"]}
            == {r["vec_id"] for r in again if r["sampled"]})


def test_token_surprisal_integer_bits(spark):
    # corpus: "a" x 8 occurrences, "rare" x 1, N=9 ->
    # bits(a) = floor(log2(9 div 8)) = 0, bits(rare) = floor(log2(9)) = 3
    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a a a a rare")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in TX.token_surprisal(docs).collect()}
    assert out[1]["n_tokens"] == 4 and out[1]["sum_bits"] == 0
    assert out[1]["mean_bits"] == 0.0
    assert out[2]["n_tokens"] == 5 and out[2]["sum_bits"] == 3
    assert out[2]["mean_bits"] == 0.6


def test_pagerank_quantized_structure(spark):
    from w_userflow_featurestore_spark.operators.graph import pagerank

    # 3-cycle: perfect symmetry -> identical ranks, mass ~conserved
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long")
    out = {r["node"]: r["rank_q"] for r in pagerank(cyc).collect()}
    assert len(set(out.values())) == 1
    assert abs(sum(out.values()) - 10**9) < 100     # truncation only
    # star: every leaf points at the hub -> hub dominates, leaves equal
    star = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)], "src long, dst long")
    ranks = {r["node"]: r["rank_q"] for r in pagerank(star).collect()}
    assert ranks[0] > max(v for k, v in ranks.items() if k != 0) * 5
    assert len({v for k, v in ranks.items() if k != 0}) == 1
    # weighted: doubling an edge weight shifts rank toward its target
    wg = spark.createDataFrame(
        [(1, 2, 2), (1, 3, 1), (2, 1, 1), (3, 1, 1)],
        "src long, dst long, w long")
    rw = {r["node"]: r["rank_q"]
          for r in pagerank(wg, weight="w").collect()}
    assert rw[2] > rw[3]


def test_distribution_drift_flags_mix_shift(spark):
    from w_userflow_featurestore_spark.operators import temporal as TMP2

    rows_ = []
    eid = 0
    # day 1: 50/50 a-b; day 2: identical mix; day 3: 100% a + new type c
    for day, mix in [(1, ["a"] * 10 + ["b"] * 10),
                     (2, ["a"] * 10 + ["b"] * 10),
                     (3, ["a"] * 20 + ["c"] * 2)]:
        for t in mix:
            rows_.append((eid, f"2024-01-0{day} 12:00:00", 1, t))
            eid += 1
    ev = spark.createDataFrame(
        rows_, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {str(r["datetime"]): r
           for r in TMP2.distribution_drift(ev).collect()}
    d1, d2, d3 = (out["2024-01-01"], out["2024-01-02"], out["2024-01-03"])
    assert d1["chi2_micro"] is None and d1["is_drift"] is None   # no baseline
    assert d2["chi2_micro"] == 0 and d2["is_drift"] == 0         # same mix
    assert d3["chi2_micro"] > 100_000 and d3["is_drift"] == 1    # b vanished
    assert d3["n_new_categories"] == 1                           # c appeared


def test_bpe_pair_counts_weighted_by_word_freq(spark):
    # "ab" x 3 docs, "abc" x 1 -> pair "a b": 3+1=4; "b c": 1
    docs = spark.createDataFrame(
        [(1, "ab ab"), (2, "ab"), (3, "abc")], "doc_id long, text string")
    got = {r["pair"]: r["n_occurrences"]
           for r in TX.bpe_pair_counts(docs, k=10).collect()}
    # NB: word-frequency weighting counts "ab" 3x (once per occurrence)
    assert got == {"a b": 4, "b c": 1}
    # single-char words contribute no pairs
    single = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert TX.bpe_pair_counts(single).count() == 0


def test_bpe_pair_counts_are_the_unmerged_pair_stats(spark):
    """bpe_pair_counts is bpe_pair_stats over bpe_train's unmerged
    symbolization, printed "left right", cut to the top k by
    (count DESC, pair ASC)."""
    docs = spark.createDataFrame(
        [(1, "abab abc ab"), (2, "cab cab b"), (3, "zz ba a")],
        "doc_id long, text string")
    _, unmerged = TX.bpe_train(docs, n_merges=0)
    stats = sorted((-r["n_occurrences"], f"{r['left_sym']} {r['right_sym']}")
                   for r in TX.bpe_pair_stats(unmerged).collect())
    want = [(pair, -neg) for neg, pair in stats[:4]]
    got = [(r["pair"], r["n_occurrences"])
           for r in TX.bpe_pair_counts(docs, k=4).collect()]
    assert got == want and len(stats) > 4


def test_whole_bits_is_floor_log2(spark):
    """functions.whole_bits(num, den) = floor(log2(num / den)) on hand
    values and on DECIMAL(38,0) products shaped like
    pmi_collocations'; a quotient of 0 (num < den) reads 0 bits."""
    import math

    from w_userflow_featurestore_spark.functions import whole_bits
    hand = [(1, 1), (9, 8), (9, 1), (2 ** 40, 3)]
    got = spark.createDataFrame(hand + [(3, 9)], "num long, den long") \
        .select(whole_bits("num", "den").alias("b")).collect()
    assert [r["b"] for r in got] == [
        math.floor(math.log2(n / d)) for n, d in hand] + [0]
    assert [r["b"] for r in got] == [0, 0, 3, 38, 0]
    # (n_pair, t_total, c1, c2): products past BIGINT, quotient inside it
    pmi = [(10 ** 9, 4 * 10 ** 18, 10 ** 9, 10 ** 9),
           (10 ** 18, 4 * 10 ** 18, 10 ** 18, 10 ** 18),
           (3, 4 * 10 ** 18, 2 * 10 ** 9, 3 * 10 ** 9)]
    num = "CAST(a AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))"
    den = "CAST(c1 AS DECIMAL(38,0)) * CAST(c2 AS DECIMAL(38,0))"
    got = spark.createDataFrame(pmi, "a long, t long, c1 long, c2 long") \
        .select(whole_bits(num, den).alias("b")).collect()
    assert [r["b"] for r in got] == [
        (a * t // (c1 * c2)).bit_length() - 1 for a, t, c1, c2 in pmi]
    assert [r["b"] for r in got] == [31, 2, 1]


# --------------------------------------------------------- persisted IVF

def test_ivf_index_search_equals_inline_ivf(spark, tmp_path):
    """Build-once/query-many must return exactly what the inline
    operator computes (same deterministic centroid seeds)."""
    from w_userflow_featurestore_spark.operators.similarity import (
        ivf_index_build, ivf_index_search, ivf_topk,
    )
    from w_userflow_featurestore_spark.sources import read_table
    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivf")
    ivf_index_build(emb, path, n_centroids=4)
    queries = emb.where("vec_id < 3")
    got = rows(ivf_index_search(spark, path, queries, k=3, nprobe=2),
               "q_id", "n_id", "cosine", "rank")
    want = rows(ivf_topk(emb, queries, k=3, n_centroids=4, nprobe=2),
                "q_id", "n_id", "cosine", "rank")
    assert got == want and len(got) > 0


def test_ivf_index_build_stores_the_assign_cells_cells(spark, tmp_path):
    """The persisted index assigns through the one _assign_cells path:
    its stored cells equal _assign_cells' cells for the same corpus and
    model, and the index-rows plan is the encoded-min HashAggregate,
    never a min_by."""
    from w_userflow_featurestore_spark.operators.similarity import (
        _assign_cells, _fit, _index_rows, _quantized, ivf_index_build,
    )
    from w_userflow_featurestore_spark.sources import LogTable, read_table
    emb = read_table(spark, SF0001, "embeddings")
    path = str(tmp_path / "ivf")
    ivf_index_build(emb, path, n_centroids=4)
    stored = {r["vec_id"]: r["cell"] for r in
              LogTable(spark, path + "/vectors").read().collect()}
    model = _fit(emb, 4, "vec_id", "embedding")
    n = _quantized(emb, "vec_id", "embedding", "vec_id", "qv")
    want = {r["vec_id"]: r["cell"] for r in
            _assign_cells(n, "vec_id", "qv", model).collect()}
    assert stored == want and len(stored) == emb.count()
    plan = (_index_rows(emb, model, "vec_id", "embedding")
            ._jdf.queryExecution().optimizedPlan().toString())
    assert "min_by" not in plan


def test_ivf_index_probe_reads_only_probed_cells(spark, tmp_path):
    """The scan must touch ONLY the probed cells' partition files —
    IO proportional to nprobe/n_centroids, enforced at the manifest."""
    from w_userflow_featurestore_spark.operators.similarity import (
        ivf_index_build, ivf_index_search,
    )
    from w_userflow_featurestore_spark.sources import LogTable
    from w_userflow_featurestore_spark.sources import read_table
    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivf")
    ivf_index_build(emb, path, n_centroids=4)
    out = ivf_index_search(spark, path, emb.where("vec_id = 0"),
                           k=3, nprobe=1)
    touched = {f for f in out.inputFiles() if "/vectors/" in f}
    assert len({f.split("cell=")[1].split("/")[0] for f in touched}) == 1
    n_parts = len({r["cell"] for r in
                   LogTable(spark, path + "/vectors").read()
                   .select("cell").distinct().collect()})
    assert n_parts > 1          # pruning actually skipped something


def test_ivf_index_append_is_incremental_and_exactly_once(spark, tmp_path):
    from w_userflow_featurestore_spark.operators.similarity import (
        ivf_index_append, ivf_index_build, ivf_index_search,
    )
    from w_userflow_featurestore_spark.sources import LogTable
    from w_userflow_featurestore_spark.sources import read_table
    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivf")
    old = emb.where("vec_id >= 10")
    new = emb.where("vec_id < 10")
    ivf_index_build(old, path, n_centroids=4)
    s = ivf_index_append(spark, path, new, txn="batch-1")
    # replay with the same token is a no-op commit
    assert ivf_index_append(spark, path, new, txn="batch-1") == s
    vt = LogTable(spark, path + "/vectors")
    assert vt.read().count() == emb.count()
    # the appended vectors are findable
    got = ivf_index_search(spark, path, emb.where("vec_id = 499"),
                           k=5, nprobe=4).collect()
    assert len(got) == 5


def test_ivf_index_streaming_feed_exactly_once(spark, tmp_path):
    """A foreachBatch stream feeds the persisted IVF index through
    ivf_index_append's txn tokens: checkpoint-recovery double-delivery
    lands exactly once, and the index stays searchable mid-growth."""
    from w_userflow_featurestore_spark.operators.similarity import (
        ivf_index_append, ivf_index_build, ivf_index_search,
    )
    from w_userflow_featurestore_spark.sources import LogTable, read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivf")
    ivf_index_build(emb.where("vec_id >= 100"), path, n_centroids=4)

    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    emb.where("vec_id < 100").write.parquet(src)

    def _sink(batch, batch_id):
        if not batch.isEmpty():
            ivf_index_append(batch.sparkSession, path, batch,
                             txn=f"ivf:{ck}:{batch_id}")

    def run():
        q = (spark.readStream.schema(emb.schema).parquet(src)
             .writeStream.foreachBatch(_sink)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run()
    n1 = LogTable(spark, path + "/vectors").read().count()
    run()      # restart on the same checkpoint: no new data, no dupes
    assert LogTable(spark, path + "/vectors").read().count() == n1 == 500
    got = ivf_index_search(spark, path, emb.where("vec_id = 0"),
                           k=3, nprobe=4)
    assert got.count() == 3


def test_minhash_accuracy_identical_and_invariants(spark):
    """minhash_accuracy: identical docs estimate exactly (err_bp = 0);
    every output row obeys the integer-bp invariants (est a multiple of
    10000/k and >= the floor, exact within [0, 10000], err = |diff|)."""
    from w_userflow_featurestore_spark.operators.dedup import (
        minhash_accuracy,
    )
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest tonight")
    docs = spark.createDataFrame(
        [(1, base), (2, base),                      # exact duplicates
         (3, base + " with a small tail change"),   # near-dup
         (4, "completely different content about spark adaptive "
             "query execution and shuffle partition coalescing")],
        "doc_id long, text string")
    rows = minhash_accuracy(docs, n=3, k=8, bands=4,
                            min_est_bp=5000).collect()
    by_pair = {(r["doc_a"], r["doc_b"]): r for r in rows}
    assert (1, 2) in by_pair
    ident = by_pair[(1, 2)]
    assert ident["est_bp"] == 10000 and ident["exact_bp"] == 10000
    assert ident["err_bp"] == 0
    for r in rows:
        assert r["est_bp"] % 1250 == 0 and r["est_bp"] >= 5000
        assert 0 <= r["exact_bp"] <= 10000
        assert r["err_bp"] == abs(r["est_bp"] - r["exact_bp"])


def test_minhash_accuracy_pairs_are_the_lsh_candidate_pairs(spark):
    """At k=8, est_bp >= 5000 and est_jaccard >= 0.5 both mean >= 4
    agreeing minhashes, so the two ops keep the same pairs."""
    from w_userflow_featurestore_spark.sources import read_table
    docs = read_table(spark, SF0001, "documents",
                      columns=["doc_id", "text"])
    acc = {(r["doc_a"], r["doc_b"]) for r in DD.minhash_accuracy(
        docs, k=8, bands=4, min_est_bp=5000).collect()}
    lsh = {(r["doc_a"], r["doc_b"]) for r in DD.lsh_candidate_pairs(
        DD.minhash_signatures(docs, k=8), bands=4,
        min_est_jaccard=0.5).collect()}
    assert acc and acc == lsh


def test_bands_must_divide_the_signature_k(spark):
    sigs = DD.minhash_signatures(_docs(spark), k=8)
    with pytest.raises(ValueError, match="bands=3 must divide"):
        DD.band_buckets(sigs, bands=3)
    with pytest.raises(ValueError, match="bands=3 must divide"):
        DD.lsh_candidate_pairs(sigs, bands=3)
    with pytest.raises(ValueError, match="k=0"):
        DD.band_buckets(sigs.select("doc_id"))
    assert DD.band_buckets(sigs, bands=2).columns == [
        "doc_id", "band", "bucket"]


def test_minhash_accuracy_rejects_non_divisible_k(spark):
    import pytest as _pt

    from w_userflow_featurestore_spark.operators.dedup import (
        minhash_accuracy,
    )
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pt.raises(ValueError, match="divide 10000"):
        minhash_accuracy(docs, k=7)


# ------------------------------------------------- BPE tokenizer registry

def test_bpe_registry_roundtrip_equals_in_memory_apply(spark, tmp_path):
    """Train -> save -> load -> apply must be byte-identical to applying
    the in-memory merge list: persistence changes where the model lives,
    not what the plan computes."""
    from w_userflow_featurestore_spark.operators.text import (
        bpe_apply, bpe_apply_from, bpe_load, bpe_save, bpe_train,
    )
    from w_userflow_featurestore_spark.sources import read_table
    docs = read_table(spark, SF0001, "documents",
                      columns=["doc_id", "text"])
    merges, _ = bpe_train(docs, n_merges=4)
    path = str(tmp_path / "tokenizer")
    version, _snap = bpe_save(spark, path, merges)
    assert version == 1
    assert bpe_load(spark, path) == [tuple(m) for m in merges]
    a = sorted(map(tuple, bpe_apply(docs, merges).collect()))
    b = sorted(map(tuple, bpe_apply_from(spark, path, docs).collect()))
    assert a == b


def test_bpe_registry_versions_are_pinned_and_latest_resolves(spark, tmp_path):
    """A pinned version replays forever even after a newer tokenizer is
    published; the unpinned load resolves the newest."""
    from w_userflow_featurestore_spark.operators.text import (
        bpe_load, bpe_save, bpe_train,
    )
    from w_userflow_featurestore_spark.sources import read_table
    docs = read_table(spark, SF0001, "documents",
                      columns=["doc_id", "text"])
    m2, _ = bpe_train(docs, n_merges=2)
    m4, _ = bpe_train(docs, n_merges=4)
    path = str(tmp_path / "tokenizer")
    v1, _ = bpe_save(spark, path, m2)
    v2, _ = bpe_save(spark, path, m4)
    assert (v1, v2) == (1, 2)
    assert bpe_load(spark, path, version=1) == [tuple(m) for m in m2]
    assert bpe_load(spark, path) == [tuple(m) for m in m4]


def test_bpe_registry_manifest_version_probe(spark, tmp_path, monkeypatch):
    """The latest-version probe inside bpe_save/bpe_load
    reads max(tokenizer_version) from MANIFEST stats (driver-side, no
    Spark job) instead of a full table read+agg+collect. Pins (a) the
    probe equals the read-based max after multiple publishes, (b) with
    unusable stats the probe returns None and the callers fall back to
    the read path with identical results."""
    from pyspark.sql import functions as F
    from w_userflow_featurestore_spark.operators.text import (
        _registry_max_version, bpe_load, bpe_save, bpe_train,
    )
    from w_userflow_featurestore_spark.sources import LogTable, read_table
    docs = read_table(spark, SF0001, "documents",
                      columns=["doc_id", "text"])
    m3, _ = bpe_train(docs, n_merges=3)
    path = str(tmp_path / "tokenizer")
    bpe_save(spark, path, m3[:1])
    bpe_save(spark, path, m3)
    t = LogTable(spark, path)
    read_max = t.read().agg(
        F.max("tokenizer_version").alias("v")).collect()[0]["v"]
    assert _registry_max_version(t.files_stats()) == int(read_max) == 2
    # unusable stats -> None -> callers take the read fallback: a
    # commit made without footer stats leaves a statless live file
    monkeypatch.setattr(LogTable, "_collect_stats", lambda self, rel: {})
    v3, _ = bpe_save(spark, path, m3[:1])
    assert v3 == 3
    assert _registry_max_version(t.files_stats()) is None
    v4, _ = bpe_save(spark, path, m3[:2])
    assert v4 == 4                      # fallback still counts correctly
    monkeypatch.undo()
    assert bpe_load(spark, path) == [tuple(m) for m in m3[:2]]


def test_bpe_registry_rollback_and_idempotent_replay(spark, tmp_path):
    """The registry rides LogTable's snapshot machinery: rollback
    restores the earlier published state, and a txn-tagged save
    replayed (checkpoint-recovery style) commits exactly once."""
    import pytest
    from w_userflow_featurestore_spark.operators.text import (
        bpe_load, bpe_save, bpe_train,
    )
    from w_userflow_featurestore_spark.sources import LogTable, read_table
    docs = read_table(spark, SF0001, "documents",
                      columns=["doc_id", "text"])
    m2, _ = bpe_train(docs, n_merges=2)
    m3, _ = bpe_train(docs, n_merges=3)
    path = str(tmp_path / "tokenizer")
    v1, snap1 = bpe_save(spark, path, m2, txn="publish-1")
    # replayed publish: same token -> same snapshot AND the ORIGINAL
    # version number (not a freshly computed max+1)
    v_replay, snap_replay = bpe_save(spark, path, m2, txn="publish-1")
    assert (v_replay, snap_replay) == (v1, snap1) == (1, snap1)
    assert bpe_load(spark, path) == [tuple(m) for m in m2]
    _, _snap2 = bpe_save(spark, path, m3, txn="publish-2")
    assert bpe_load(spark, path) == [tuple(m) for m in m3]
    LogTable(spark, path).rollback(snap1)
    assert bpe_load(spark, path) == [tuple(m) for m in m2]
    with pytest.raises(ValueError, match="not found"):
        bpe_load(spark, path, version=2)


def test_bpe_save_reads_the_log_once_per_replayed_publish(spark, tmp_path):
    """One log replay serves bpe_save's empty check, txn lookup and
    version stats: a new publish reads the log 3 times (that replay,
    then append's txn check and commit); a replayed publish reads it
    once and runs no Spark job — its version comes off the replayed
    commit's manifest stats."""
    from tests.conftest import log_scans
    from w_userflow_featurestore_spark.operators.text import bpe_save
    path = str(tmp_path / "tokenizer")
    merges = [(1, "a", "b", "ab", 3)]
    got = {}
    assert log_scans(lambda: got.setdefault(
        "first", bpe_save(spark, path, merges, txn="p-1"))) == 3
    assert log_scans(lambda: got.setdefault(
        "new", bpe_save(spark, path, merges, txn="p-2"))) == 3
    sc = spark.sparkContext
    group = "bpe-save-replay"
    sc.setJobGroup(group, group)
    try:
        n = log_scans(lambda: got.setdefault(
            "replay", bpe_save(spark, path, merges, txn="p-2")))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert n == 1
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert got["first"][0] == 1
    assert got["replay"] == got["new"] and got["new"][0] == 2


def test_racing_bpe_save_publishes_each_version_once(spark, tmp_path,
                                                     monkeypatch):
    """A rival publish that lands between bpe_save's registry read and
    its append makes the stale save raise ConcurrentCommitError instead
    of stamping the rival's version a second time: the version stays
    loadable, latest and pinned, and a re-run publishes the next one."""
    from w_userflow_featurestore_spark.operators.text import (
        bpe_load, bpe_save,
    )
    from w_userflow_featurestore_spark.sources import (
        ConcurrentCommitError, LogTable,
    )
    path = str(tmp_path / "tokenizer")
    mine = [(1, "a", "b", "ab", 3)]
    rival = [(1, "c", "d", "cd", 5), (2, "cd", "e", "cde", 2)]
    assert bpe_save(spark, path, mine)[0] == 1
    real_state, published = LogTable.state, []

    def state_then_rival_publish(self):
        st = real_state(self)
        if not published:
            published.append(None)
            published[0] = bpe_save(spark, path, rival)
        return st

    monkeypatch.setattr(LogTable, "state", state_then_rival_publish)
    with pytest.raises(ConcurrentCommitError):
        bpe_save(spark, path, mine)
    monkeypatch.undo()
    assert published[0][0] == 2
    assert bpe_load(spark, path) == bpe_load(spark, path, 2) == rival
    assert bpe_save(spark, path, mine)[0] == 3
    assert bpe_load(spark, path) == mine


def test_bpe_registry_empty_merge_list_is_a_real_version(spark, tmp_path):
    """A fully-fused (or n_merges=0) training run publishes a version
    with ZERO merges — that must load back as [], not read as 'version
    never saved' (the header row carries the version's existence)."""
    from w_userflow_featurestore_spark.operators.text import (
        bpe_apply, bpe_apply_from, bpe_load, bpe_save,
    )
    path = str(tmp_path / "tokenizer")
    v, _ = bpe_save(spark, path, [])
    assert (v, bpe_load(spark, path)) == (1, [])
    docs = spark.createDataFrame([(1, "ab ab"), (2, "")],
                                 "doc_id long, text string")
    a = sorted(map(tuple, bpe_apply(docs, []).collect()))
    b = sorted(map(tuple, bpe_apply_from(spark, path, docs).collect()))
    assert a == b


# -------------------------------------------- label-aware neighbor ops

def _labeled_vecs(spark):
    # 1 ~ 2 (same label: easy positive), 5 near 1 with the OTHER label
    # (the hard negative), 3 orthogonal other-label, 4 opposite same-label
    return spark.createDataFrame([
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.99, 0.1, 0.0, 0.0], 0),
        (3, [0.0, 1.0, 0.0, 0.0], 1),
        (4, [-1.0, 0.0, 0.0, 0.0], 0),
        (5, [0.98, 0.05, 0.1, 0.0], 1),
    ], "vec_id long, embedding array<double>, label int")


def test_hard_negative_mining_ranks_the_near_miss_first(spark):
    emb = _labeled_vecs(spark)
    out = SIM.hard_negative_mining(emb, emb.where(F.col("vec_id") == 1),
                                   k=2).collect()
    got = [(r["n_id"], r["neg_rank"]) for r in
           sorted(out, key=lambda r: r["neg_rank"])]
    assert got[0] == (5, 1)          # the planted near-miss leads
    assert got[1] == (3, 2)
    assert all(r["n_label"] != r["q_label"] for r in out)
    assert all(r["n_id"] != 2 and r["n_id"] != 4 for r in out)


def test_knn_label_agreement_flags_the_mislabeled_vector(spark):
    emb = _labeled_vecs(spark)
    out = {r["q_id"]: r for r in
           SIM.knn_label_agreement(emb, emb, k=2).collect()}
    # vec 5 sits inside the label-0 cluster wearing label 1: zero of its
    # 2 nearest neighbors agree — the mislabeled-example signal
    assert out[5]["n_agree"] == 0 and out[5]["agreement_bp"] == 0
    # vec 1's neighborhood is mixed (2 agrees, 5 disagrees)
    assert out[1]["n_neighbors"] == 2 and out[1]["n_agree"] == 1
    assert out[1]["agreement_bp"] == 5000


def test_bpe_version_drift_prefix_stability_and_sign(spark, tmp_path):
    """Greedy BPE is prefix-stable (merge i depends only on merges
    1..i-1), so train(8)[:4] IS the 4-merge tokenizer — and extending a
    merge list can only fuse further, so drift_bp >= 0 for every doc."""
    from w_userflow_featurestore_spark.operators.text import (
        bpe_save, bpe_train, bpe_version_drift,
    )
    from w_userflow_featurestore_spark.sources import read_table
    docs = read_table(spark, SF0001, "documents",
                      columns=["doc_id", "text"])
    m8, _ = bpe_train(docs, n_merges=8)
    m4, _ = bpe_train(docs, n_merges=4)
    assert [tuple(m) for m in m8[:4]] == [tuple(m) for m in m4]
    path = str(tmp_path / "tokenizer")
    v1, _ = bpe_save(spark, path, m8[:4])
    v2, _ = bpe_save(spark, path, m8)
    out = bpe_version_drift(spark, path, docs, v1, v2).collect()
    assert out and all(r["drift_bp"] >= 0 for r in out)
    assert all(r["old_tokens"] >= r["new_tokens"] for r in out)
    assert any(r["drift_bp"] > 0 for r in out)   # the upgrade changed SOMETHING


def test_bpe_version_drift_equals_two_bpe_apply_passes(spark, tmp_path):
    """bpe_version_drift's n_words, old_tokens and new_tokens are two
    bpe_apply passes, one per version, joined on doc_id; a doc with no
    countable word has no row in either."""
    from w_userflow_featurestore_spark.operators.text import (
        bpe_apply, bpe_save, bpe_version_drift,
    )
    docs = spark.createDataFrame(
        [(1, "abab abc ab"), (2, "cab cab b"), (3, ""), (4, "x")],
        "doc_id long, text string")
    old = [(1, "a", "b", "ab", 4)]
    new = old + [(2, "ab", "c", "abc", 1)]
    path = str(tmp_path / "tokenizer")
    v_old, _ = bpe_save(spark, path, old)
    v_new, _ = bpe_save(spark, path, new)
    cols = ("doc_id", "n_words", "old_tokens", "new_tokens")
    got = rows(bpe_version_drift(spark, path, docs, v_old, v_new), *cols)
    a = bpe_apply(docs, old).select(
        "doc_id", "n_words", F.col("n_tokens").alias("old_tokens"))
    b = bpe_apply(docs, new).select(
        "doc_id", F.col("n_tokens").alias("new_tokens"))
    assert got == rows(a.join(b, "doc_id"), *cols)
    assert got == [(1, 3, 5, 4), (2, 3, 5, 5), (4, 1, 1, 1)]


def test_bpe_registry_streaming_publish_exactly_once(spark, tmp_path):
    """A foreachBatch retraining stream publishes tokenizer versions
    through bpe_save's txn tokens (the IVF-index streaming-feed
    pattern): checkpoint-recovery double-delivery of a batch publishes
    its version exactly once, versions stay monotonically consecutive,
    and a version pinned mid-stream keeps resolving after later
    publishes."""
    from w_userflow_featurestore_spark.operators.text import (
        bpe_load, bpe_save, bpe_train,
    )
    from w_userflow_featurestore_spark.sources import read_table

    docs = read_table(spark, SF0001, "documents",
                      columns=["doc_id", "text"])
    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    path = str(tmp_path / "tokenizer")
    docs.write.parquet(src)
    published = []

    def _publish(batch, batch_id):
        if not batch.isEmpty():
            merges, _ = bpe_train(batch, n_merges=2)
            published.append(
                bpe_save(batch.sparkSession, path, merges,
                         txn=f"tok:{ck}:{batch_id}"))

    def run():
        q = (spark.readStream.schema(docs.schema).parquet(src)
             .writeStream.foreachBatch(_publish)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run()
    v1 = bpe_load(spark, path)
    assert published and published[0][0] == 1 and len(v1) == 2
    run()      # restart on the same checkpoint: nothing re-publishes
    assert bpe_load(spark, path) == v1
    # a replayed batch id maps to the SAME snapshot (txn no-op), so the
    # version count equals the number of distinct batches, not runs
    m3, _ = bpe_train(docs, n_merges=3)
    v2, _ = bpe_save(spark, path, m3, txn="manual-upgrade")
    assert v2 == 2
    assert bpe_load(spark, path, version=1) == v1   # pin survives
    assert len(bpe_load(spark, path)) == 3


def test_remove_duplicate_spans_excises_exactly_the_spans(spark):
    """The ExactSubstr REWRITE: kept text is the span complement of
    the normalized token stream; span-free docs pass through whole; a
    fully-duplicated doc survives as an empty string (never dropped)."""
    docs = spark.createDataFrame(
        [(1, "aaa bbb ccc ddd eee fff ggg hhh"),
         (2, "xxx yyy aaa bbb ccc ddd eee zzz"),   # shares a 5-token run
         (3, "p q r s t p q r s t"),               # fully duplicated
         (4, "one two three four five")],          # fully unique
        "doc_id long, text string")
    got = {r["doc_id"]: (r["text_clean"], r["n_tokens"],
                         r["n_tokens_removed"], r["n_spans_removed"])
           for r in TX.remove_duplicate_spans(docs, k=4).collect()}
    assert got == {
        1: ("fff ggg hhh", 8, 5, 1),        # span [1,5] excised
        2: ("xxx yyy zzz", 8, 5, 1),        # span [3,7] excised
        3: ("", 10, 10, 1),                 # self-repetition covers all
        4: ("one two three four five", 5, 0, 0),
    }


def test_bpe_train_batched_equals_sequential_reference(spark):
    """Round-12 batched argmax selection must reproduce the sequential
    limit(1)-per-round loop EXACTLY — merge order, tie-breaks, and
    selection-time counts — on corpora exercising both regimes: skewed
    disjoint pairs (several merges accepted per counting round) and a
    hot shared symbol (where batching must refuse and fall back to
    one-per-round)."""
    from pyspark.sql import functions as F

    from w_userflow_featurestore_spark.operators.text import (
        bpe_pair_stats, bpe_train, BPE_OPEN as S, BPE_CLOSE as E,
    )
    from w_userflow_featurestore_spark.operators.dedup import words

    def sequential(docs, n_merges):
        word_freq = (docs.select(F.explode(words("`text`")).alias("w"))
                     .where(F.col("w") != "")
                     .groupBy("w")
                     .agg(F.count(F.lit(1)).cast("long").alias("freq")))
        base = word_freq.select(
            F.regexp_replace("w", "(.)", f"{S}$1{E}").alias("syms"),
            "freq")
        merges = []
        for rank in range(1, n_merges + 1):
            expr = "syms"
            for _, a, b, _, _ in merges:
                expr = (f"replace({expr}, '{S}{a}{E}{S}{b}{E}',"
                        f" '{S}{a}{b}{E}')")
            best = (bpe_pair_stats(base.select(F.expr(expr).alias("syms"),
                                               "freq"))
                    .orderBy(F.desc("n_occurrences"), F.asc("left_sym"),
                             F.asc("right_sym"))
                    .limit(1).collect())
            if not best:
                break
            a, b, n = (best[0]["left_sym"], best[0]["right_sym"],
                       int(best[0]["n_occurrences"]))
            merges.append((rank, a, b, a + b, n))
        return merges

    corpora = [
        # skewed disjoint: th/es/on families dominate independently
        ["the the the these those", "on one only the", "es es the on"],
        # hot shared symbol 'a': aa ab ac all compete through 'a'
        ["aa ab ac aaa aab", "aba aab abc", "aa aa ab"],
        # ties everywhere: every word twice
        ["xy xz yz", "xy xz yz"],
    ]
    for texts in corpora:
        docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                     "doc_id long, text string")
        got, _ = bpe_train(docs, n_merges=6)
        want = sequential(docs, 6)
        assert got == want, (texts, got, want)
