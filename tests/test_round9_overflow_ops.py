"""Round-9 overflow ops: TF-IDF keywords, PMI collocations, shingle
novelty, source-overlap matrix, quality-argmax dedup survivor.

Behavioral tests on planted fixtures — DuckDB value parity runs in
test_oracle_parity.py; here we pin the semantics each op exists for
(the planted keyword ranks first, the exclusive pair tops PMI, the
mirrored doc scores zero novelty, the better near-dup copy survives).
"""

from __future__ import annotations

from tests.conftest import rows
from w_userflow_featurestore_spark.operators import dedup as DD
from w_userflow_featurestore_spark.operators import text as TX

BASE = ("the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight")
NEAR = BASE.replace("green", "dark")
FAR = ("completely different content about spark query engines and "
       "distributed columnar storage systems performance")


def test_tfidf_unique_repeated_term_ranks_first(spark):
    # "zebra" is unique to doc 1 (df=1 of N=4 -> idf 2 bits) and
    # repeated 3x (tf=3 -> score 6); "common" appears in every doc
    # (N DIV df = 1 -> 0 idf bits -> score 0): whole-bit IDF's built-in
    # stopword suppression
    docs = spark.createDataFrame(
        [(1, "zebra zebra zebra common alpha"),
         (2, "common beta gamma"),
         (3, "common beta delta"),
         (4, "common gamma delta")],
        "doc_id long, text string")
    out = TX.tfidf_top_terms(docs, top_k=3).collect()
    top1 = {r["doc_id"]: r for r in out if r["rank"] == 1}
    assert top1[1]["term"] == "zebra"
    assert top1[1]["tf"] == 3 and top1[1]["idf_bits"] == 2
    assert top1[1]["score_bits"] == 6
    common = [r for r in out if r["term"] == "common"]
    assert all(r["score_bits"] == 0 for r in common)
    # exactly <= top_k rows per doc, ranks contiguous from 1
    by_doc: dict[int, list[int]] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in by_doc.values())
    assert all(len(v) <= 3 for v in by_doc.values())


def test_tfidf_tiebreak_is_term_ascending(spark):
    docs = spark.createDataFrame(
        [(1, "bb aa"), (2, "cc dd")], "doc_id long, text string")
    out = [r for r in TX.tfidf_top_terms(docs, top_k=2).collect()
           if r["doc_id"] == 1]
    assert [r["term"] for r in sorted(out, key=lambda r: r["rank"])] \
        == ["aa", "bb"]


def test_pmi_exclusive_pair_tops_the_ranking(spark):
    # "hong kong" co-occur exclusively in all 6 docs (c_xy = c_x =
    # c_y = 6); the filler words permute per doc, so every other
    # adjacent pair occurs < 5 times and min_count drops it
    fillers = ["a b c d", "b a d c", "c d a b",
               "d c b a", "a c b d", "b d c a"]
    docs = spark.createDataFrame(
        [(i + 1, f"hong kong {f}") for i, f in enumerate(fillers)],
        "doc_id long, text string")
    out = TX.pmi_collocations(docs, top_k=5, min_count=5).collect()
    assert [(r["w1"], r["w2"]) for r in out] == [("hong", "kong")]
    # T = 6 docs * 5 bigrams = 30; num/den = 6*30/36 = 5 -> 2 bits
    assert out[0]["n_pair"] == 6 and out[0]["pmi_bits"] == 2


def test_pmi_min_count_suppresses_rare_pairs(spark):
    # the hapax pair "rare gem" (seen once) would max PMI — min_count
    # must drop it
    docs = spark.createDataFrame(
        [(1, "rare gem"), (2, "a b a b a b a b a b")],
        "doc_id long, text string")
    out = rows(TX.pmi_collocations(docs, top_k=10, min_count=5),
               "w1", "w2")
    assert ("rare", "gem") not in out
    assert ("a", "b") in out


def test_pmi_overflow_envelope_raises_instead_of_dropping(spark,
                                                          monkeypatch):
    # past the DECIMAL(38,0) envelope, non-ANSI decimal
    # overflow would silently NULL (drop) the hottest pairs. The guard
    # must fail LOUDLY instead. Shrink the envelope so a tiny corpus
    # trips it (the expr reads _PMI_T_MAX at call time).
    import pytest
    from pyspark.errors import SparkRuntimeException

    docs = spark.createDataFrame(
        [(1, "a b a b a b a b a b")], "doc_id long, text string")
    monkeypatch.setattr(TX, "_PMI_T_MAX", 5)  # corpus has T=9 bigrams
    with pytest.raises(SparkRuntimeException, match="overflow envelope"):
        TX.pmi_collocations(docs, top_k=5, min_count=2).collect()
    # at the boundary (T == envelope) nothing raises and values hold
    monkeypatch.setattr(TX, "_PMI_T_MAX", 9)
    out = TX.pmi_collocations(docs, top_k=5, min_count=2).collect()
    assert [(r["w1"], r["w2"]) for r in out] == [("a", "b"), ("b", "a")]


def test_pmi_empty_bigram_corpus_returns_empty_not_overflow(spark):
    # the guard's NULL arm (a SUM that
    # itself overflowed DECIMAL(38,0)) must not conflate with the
    # OTHER way _t goes NULL — a sum over ZERO bigram rows. Single-word
    # docs produce no bigrams; the broadcast build still evaluates the
    # guard projection, so a bare IS-NULL arm would raise here.
    docs = spark.createDataFrame(
        [(1, "alone"), (2, "word")], "doc_id long, text string")
    assert TX.pmi_collocations(docs, top_k=5, min_count=2).count() == 0


def test_ngram_novelty_mirrored_doc_scores_zero(spark):
    docs = spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, FAR)], "doc_id long, text string")
    out = {r["doc_id"]: r for r in DD.ngram_novelty(docs).collect()}
    # docs 1/2 are mirrors: every shingle has df=2 -> zero novelty
    assert out[1]["novelty_bp"] == 0 and out[2]["novelty_bp"] == 0
    assert out[1]["n_novel"] == 0
    # doc 3 shares no shingle with anything -> fully novel
    assert out[3]["novelty_bp"] == 10000
    assert out[3]["n_novel"] == out[3]["n_shingles"] > 0


def test_ngram_novelty_partial_overlap_exact_bp(spark):
    # doc 2 copies doc 1's text then appends; shared shingles have df=2
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d x y z")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in DD.ngram_novelty(docs, n=3).collect()}
    # doc 1 shingles: {a b c, b c d} both also in doc 2 -> 0 novel
    assert out[1]["n_shingles"] == 2 and out[1]["n_novel"] == 0
    # doc 2: 5 shingles, 3 unique to it (c d x, d x y, x y z)
    assert out[2]["n_shingles"] == 5 and out[2]["n_novel"] == 3
    assert out[2]["novelty_bp"] == 3 * 10000 // 5


def test_cross_source_overlap_counts_and_jaccard(spark):
    # srcA {h1,h2}, srcB {h1}, srcC {h3}: A-B share 1 (J = 1/2),
    # C shares nothing -> no row; within-source dup of h1 in B must
    # NOT inflate the count (distinct collapse first)
    docs = spark.createDataFrame(
        [(1, "alpha", "A"), (2, "beta", "A"),
         (3, "alpha", "B"), (4, "ALPHA!", "B"),   # normalized dup
         (5, "gamma", "C")],
        "doc_id long, text string, source string")
    out = DD.cross_source_overlap(docs).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source_a"], r["source_b"]) == ("A", "B")
    assert r["n_shared"] == 1
    assert r["jaccard_bp"] == 10000 // 2


def test_quality_survivor_keeps_richer_doc_not_lowest_id(spark):
    # 1 and 2 are near-dups; 2 has MORE distinct words (the clean
    # original), 1 is the truncated mirror — the survivor election
    # must pick 2, where min-id dedup would keep 1
    rich = BASE + " with extra unique closing words appended here"
    docs = spark.createDataFrame(
        [(1, BASE), (2, rich), (3, FAR)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    out = {r["doc_id"]: r for r in
           DD.quality_survivor_dedup(docs, pairs=pairs).collect()}
    assert out[1]["component"] == out[2]["component"] == 1
    assert out[2]["keep"] == 1 and out[1]["keep"] == 0
    assert out[2]["n_distinct_words"] > out[1]["n_distinct_words"]
    # singleton doc is its own component and survives
    assert out[3]["component"] == 3 and out[3]["keep"] == 1


def test_quality_survivor_tiebreak_is_lowest_id(spark):
    docs = spark.createDataFrame(
        [(7, "same words here"), (9, "same words here")],
        "doc_id long, text string")
    pairs = spark.createDataFrame([(7, 9)], "doc_a long, doc_b long")
    out = {r["doc_id"]: r["keep"] for r in
           DD.quality_survivor_dedup(docs, pairs=pairs).collect()}
    assert out == {7: 1, 9: 0}


def test_d4_select_drops_dups_then_diversifies(spark):
    from w_userflow_featurestore_spark.operators import similarity as SIM
    # 12 vectors in two tight semantic modes; mode A has an exact
    # duplicate pair (1, 2) -> SemDeDup must drop 2; per_cluster=2
    # must then cap each re-fit cell
    base_a = [100] * 4 + [0] * 60
    base_b = [0] * 60 + [100] * 4
    rows_ = [(1, [float(v) for v in base_a]),
             (2, [float(v) for v in base_a]),              # dup of 1
             (3, [float(v + 3) for v in base_a]),
             (4, [float(v + 6) for v in base_a]),
             (5, [float(v) for v in base_b]),
             (6, [float(v + 3) for v in base_b]),
             (7, [float(v + 6) for v in base_b])]
    corpus = spark.createDataFrame(
        rows_, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in
           SIM.d4_select(corpus, threshold=0.99, per_cluster=2,
                         sem_centroids=2, sample_centroids=2).collect()}
    assert not out[2]["is_kept"]                  # the exact dup dies
    assert out[2]["cell"] is None                 # never re-clustered
    assert out[2]["cluster_size"] is None
    assert out[2]["selected"] is False            # coalesced, not NULL
    assert out[1]["is_kept"]
    # survivors: every occupied re-fit cell keeps <= per_cluster
    by_cell: dict[int, int] = {}
    for r in out.values():
        if r["selected"]:
            by_cell[r["cell"]] = by_cell.get(r["cell"], 0) + 1
    assert by_cell and all(v <= 2 for v in by_cell.values())
    # selected implies kept
    assert all(r["is_kept"] for r in out.values() if r["selected"])


def test_curriculum_order_stages_are_monotone_in_surprisal(spark):
    from w_userflow_featurestore_spark.operators import sampling as SMP
    # 8 docs: 4 made of the corpus's most common words (low surprisal)
    # and 4 of rarer words (high surprisal); stages must not invert
    common = "the the the the the the"
    docs = spark.createDataFrame(
        [(i, common) for i in range(4)]
        + [(i, f"rare{i} word{i} odd{i}") for i in range(4, 8)],
        "doc_id long, text string")
    out = SMP.curriculum_order(docs, n_stages=2, n_shards=2).collect()
    by_doc = {r["doc_id"]: r for r in out}
    assert all(by_doc[i]["stage"] == 1 for i in range(4))
    assert all(by_doc[i]["stage"] == 2 for i in range(4, 8))
    # shard positions are contiguous 1..k within each (stage, shard)
    groups: dict[tuple, list[int]] = {}
    for r in out:
        groups.setdefault((r["stage"], r["shard"]), []).append(
            r["shard_pos"])
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in groups.values())


def test_curriculum_order_validates_params(spark):
    import pytest as _pytest
    from w_userflow_featurestore_spark.operators import sampling as SMP
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        SMP.curriculum_order(docs, n_stages=1)
    with _pytest.raises(ValueError):
        SMP.curriculum_order(docs, n_shards=0)


def test_lang_id_confusion_diagonal_and_und(spark):
    # en docs built of en stopwords hit the diagonal; digit-only docs
    # match no profile -> 'und'; share_bp is within-language
    docs = spark.createDataFrame(
        [(1, "the of and to is", "en"),
         (2, "the a of and it", "en"),
         (3, "111 222 333", "en"),
         (4, "der die und ist nicht", "de")],
        "doc_id long, text string, lang string")
    out = {(r["lang"], r["lang_pred"]): r
           for r in TX.lang_id_confusion(docs).collect()}
    assert out[("en", "en")]["n_docs"] == 2
    assert out[("en", "en")]["share_bp"] == 2 * 10000 // 3
    assert out[("en", "und")]["n_docs"] == 1
    assert out[("de", "de")]["share_bp"] == 10000
    # note: "und" the German stopword vs "und" undetermined — doc 4
    # hits the de profile strictly more, so the de row stays diagonal


def test_ivf_recall_sweep_is_monotone_and_hits_full_recall(spark):
    from w_userflow_featurestore_spark.operators import similarity as SIM
    import pytest as _pytest
    # 8 spread-out vectors; probing ALL cells must reach exact recall
    rows_ = [(i, [float((i * 7 + j * 3) % 13) for j in range(64)])
             for i in range(8)]
    corpus = spark.createDataFrame(
        rows_, "vec_id long, embedding array<float>")
    qs = corpus.where("vec_id < 2")
    out = {r["nprobe"]: r["recall_bp"] for r in
           SIM.ivf_recall_sweep(corpus, qs, k=3, n_centroids=4,
                                nprobes=(1, 2, 4)).collect()}
    assert list(out) == [1, 2, 4]
    assert out[1] <= out[2] <= out[4]        # superset cells, never worse
    assert out[4] == 10000                   # all cells probed = brute
    with _pytest.raises(ValueError):
        SIM.ivf_recall_sweep(corpus, qs, nprobes=())


def _py_novelty(texts: dict[int, str], batch_ids: set[int]):
    """Independent model: hash-grain shingle novelty of batch docs
    within the full corpus."""
    import hashlib
    import re

    def sh_set(t):
        ws = re.sub(r"[^a-z0-9]+", " ", t.lower()).strip().split(" ")
        k = max(len(ws) - 2, 1)
        grams = {" ".join(ws[i:i + 3]) for i in range(k)}
        return {int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                for g in grams}

    sets = {d: sh_set(t) for d, t in texts.items()}
    from collections import Counter
    df = Counter(h for s in sets.values() for h in s)
    out = {}
    for d in batch_ids:
        n = len(sets[d])
        novel = sum(1 for h in sets[d] if df[h] == 1)
        out[d] = (n, novel, novel * 10000 // n)
    return out


def test_incremental_novelty_equals_full_run_on_batch(spark):
    texts = {0: BASE, 1: BASE, 2: FAR,                 # 1 mirrors corpus
             3: "a b c d x y z unique tail here",
             4: "a b c d shared head with doc three",  # corpus doc
             5: "totally fresh nine gram content never seen anywhere"}
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id long, text string")
    ledger = DD.shingle_ledger(docs.where("doc_id % 2 = 0"))
    out = {r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty_bp"])
           for r in DD.incremental_novelty(
               docs.where("doc_id % 2 = 1"), ledger).collect()}
    assert out == _py_novelty(texts, {1, 3, 5})
    # the mirrored batch doc scored zero without corpus text present
    assert out[1][1] == 0 and out[5][2] == 10000


def test_merge_shingle_ledger_is_additive_over_disjoint_batches(spark):
    docs = spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, FAR), (4, BASE)],
        "doc_id long, text string")
    full = {r["sh"]: r["n_docs"]
            for r in DD.shingle_ledger(docs).collect()}
    merged = {r["sh"]: r["n_docs"] for r in DD.merge_shingle_ledger(
        DD.shingle_ledger(docs.where("doc_id <= 2")),
        DD.shingle_ledger(docs.where("doc_id > 2"))).collect()}
    assert merged == full


def test_cross_source_overlap_near_dup_unit_catches_edited_mirror(spark):
    from w_userflow_featurestore_spark.operators.text import (
        doc_fingerprint,
    )
    # B's doc is a lightly-edited mirror of A's (tail word changed):
    # the exact-hash unit misses it, the winnowing fingerprint unit
    # catches it (the minimal 5-gram survives the edit)
    a = BASE
    b = BASE.rsplit(" ", 1)[0] + " yesterday"
    docs = spark.createDataFrame(
        [(1, a, "A"), (2, b, "B")],
        "doc_id long, text string, source string")
    exact = DD.cross_source_overlap(docs).collect()
    fp = DD.cross_source_overlap(
        docs, unit=doc_fingerprint("text")).collect()
    assert exact == []
    assert [(r["source_a"], r["source_b"], r["n_shared"])
            for r in fp] == [("A", "B", 1)]


# --------------------------------------------------------------------------
# Property tests: independent pure-Python models on randomized corpora.
# These ops hold no driver certificate until round 10 (window overflow),
# so they carry a third independent check beyond unit fixtures and the
# DuckDB random-parity batches.

import re as _re
from collections import Counter as _Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_WORDS = ["spark", "hash", "join", "the", "scan", "merge", "a",
          "table", "sort", "row", "123", "x;y", "Batch"]

_corpus = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12)
    .map(" ".join),
    min_size=1, max_size=8)


def _norm_words(t):
    return [w for w in
            _re.sub(r"[^a-z0-9]+", " ", t.lower()).strip().split(" ")
            if w]


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(texts=_corpus)
def test_tfidf_matches_python_model(spark, texts):
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    got = {(r["doc_id"], r["term"]): (r["tf"], r["idf_bits"],
                                      r["score_bits"], r["rank"])
           for r in TX.tfidf_top_terms(docs, top_k=3).collect()}
    n = len(texts)
    tf = {d: _Counter(_norm_words(t)) for d, t in enumerate(texts)}
    df = _Counter(w for c in tf.values() for w in set(c))
    want = {}
    for d, c in tf.items():
        scored = sorted(
            ((w, cnt, (n // df[w]).bit_length() - 1)
             for w, cnt in c.items()),
            key=lambda x: (-x[1] * x[2], x[0]))
        for rank, (w, cnt, idf) in enumerate(scored[:3], start=1):
            want[(d, w)] = (cnt, idf, cnt * idf, rank)
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(texts=_corpus)
def test_pmi_matches_python_model(spark, texts):
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    got = [(r["w1"], r["w2"], r["n_pair"], r["pmi_bits"])
           for r in TX.pmi_collocations(docs, top_k=20,
                                        min_count=2).collect()]
    uni: _Counter = _Counter()
    big: _Counter = _Counter()
    for t in texts:
        ws = _norm_words(t)
        uni.update(ws)
        big.update(zip(ws, ws[1:]))
    t_total = sum(big.values())
    rows = []
    for (w1, w2), c in big.items():
        if c < 2:
            continue
        num, den = c * t_total, uni[w1] * uni[w2]
        if num >= den:
            rows.append((w1, w2, c, (num // den).bit_length() - 1))
    rows.sort(key=lambda r: (-r[3], -r[2], r[0], r[1]))
    assert got == rows[:20]


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(texts=_corpus)
def test_ngram_novelty_matches_python_model(spark, texts):
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    got = {r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty_bp"])
           for r in DD.ngram_novelty(docs, n=3).collect()}

    def sh_set(t):
        ws = _re.sub(r"[^a-z0-9]+", " ", t.lower()).strip().split(" ")
        k = max(len(ws) - 2, 1)
        return {" ".join(ws[i:i + 3]) for i in range(k)}

    sets = {d: sh_set(t) for d, t in enumerate(texts)}
    df = _Counter(s for ss in sets.values() for s in ss)
    want = {}
    for d, ss in sets.items():
        novel = sum(1 for s in ss if df[s] == 1)
        want[d] = (len(ss), novel, novel * 10000 // len(ss))
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(texts=_corpus, n_stages=st.sampled_from([2, 3, 4]))
def test_curriculum_stage_sizes_are_thirds_up_to_ties(spark, texts,
                                                      n_stages):
    from w_userflow_featurestore_spark.operators import sampling as SMP
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    out = SMP.curriculum_order(docs, n_stages=n_stages,
                               n_shards=2).collect()
    if not out:          # all-empty texts yield no surprisal rows
        return
    # stages are monotone in score: max score of stage s <= min of s+1
    by_stage: dict[int, list[float]] = {}
    for r in out:
        by_stage.setdefault(r["stage"], []).append(r["mean_bits"])
    stages = sorted(by_stage)
    for a, b in zip(stages, stages[1:]):
        assert max(by_stage[a]) <= min(by_stage[b])
    # cumulative stage mass reaches each ceil(s*n/K) boundary at the
    # stage holding it: ties may push mass earlier, never later, so
    # after consuming stages 1..s the running count is >= ceil(s*n/K).
    # (The stage-s threshold t_s is the smallest score whose histogram
    # cum count reaches the boundary, and every doc scoring <= t_s
    # lands in a stage <= s.) Empty stages are legal under heavy ties —
    # iterate the stage NUMBERS, not just the non-empty keys.
    total = len(out)
    cum = 0
    for s in range(1, n_stages + 1):
        cum += len(by_stage.get(s, []))
        boundary = -(-s * total // n_stages)  # ceil
        assert cum >= boundary, (
            f"stage {s}: cumulative {cum} < ceil({s}*{total}/{n_stages})"
            f" = {boundary}")
    assert cum == total
    assert set(stages) <= set(range(1, n_stages + 1))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(texts=_corpus, data=st.data())
def test_incremental_novelty_chain_is_batching_invariant(spark, texts,
                                                         data):
    """The ledger discipline's core claim, property-tested end to end:
    for ANY ordered disjoint partition of a random corpus into
    batches, (a) each batch's incremental_novelty against the chained
    ledger equals the independent Python model's df over
    history + own batch, and (b) the chained merge_shingle_ledger
    state equals shingle_ledger rebuilt from everything ingested —
    i.e. batching (and therefore micro-batch boundaries in the
    streaming monitor) can never change a novelty verdict."""
    k = data.draw(st.integers(1, 3))
    assign = [data.draw(st.integers(0, k - 1)) for _ in texts]
    batches = [[i for i, a in enumerate(assign) if a == b]
               for b in range(k)]
    batches = [b for b in batches if b]
    mk = lambda ids: spark.createDataFrame(
        [(d, texts[d]) for d in ids], "doc_id long, text string")

    def sh_set(t):
        ws = _re.sub(r"[^a-z0-9]+", " ", t.lower()).strip().split(" ")
        n = max(len(ws) - 2, 1)
        return {" ".join(ws[i:i + 3]) for i in range(n)}

    ledger = None
    hist: _Counter = _Counter()
    for ids in batches:
        cur_sets = {d: sh_set(texts[d]) for d in ids}
        curdf = _Counter(s for ss in cur_sets.values() for s in ss)
        led_df = ledger if ledger is not None else \
            spark.createDataFrame([], "sh long, n_docs long")
        got = {r["doc_id"]: (r["n_shingles"], r["n_novel"],
                             r["novelty_bp"])
               for r in DD.incremental_novelty(mk(ids),
                                               led_df).collect()}
        want = {}
        for d, ss in cur_sets.items():
            novel = sum(1 for s in ss if hist[s] + curdf[s] == 1)
            want[d] = (len(ss), novel, novel * 10000 // len(ss))
        assert got == want
        batch_led = DD.shingle_ledger(mk(ids))
        ledger = batch_led if ledger is None else \
            DD.merge_shingle_ledger(ledger, batch_led)
        hist.update(curdf)
    all_ids = [d for b in batches for d in b]
    got_l = {tuple(r) for r in ledger.collect()}
    want_l = {tuple(r) for r in DD.shingle_ledger(mk(all_ids)).collect()}
    assert got_l == want_l
