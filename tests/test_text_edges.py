"""Edge cases for text operators the corpus-level oracles can't reach:
short documents, empty text, and adjacent/multiple PII matches."""

from __future__ import annotations

from pyspark.sql import functions as F

from tinyerp_etl_spark.operators.dedup import word_ngram_rows
from tinyerp_etl_spark.operators.text import ngram_repetition, pii_counts, redact_pii


def test_ngram_repetition_short_docs_report_zero(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "one two"), (4, "a b a b a b")],
        "doc_id int, text string",
    )
    r = ngram_repetition("text", 3)
    rows = {
        row["doc_id"]: (row["n"], row["frac"])
        for row in df.select(
            "doc_id",
            r["n_grams"].alias("n"),
            r["dup_fraction"].alias("frac"),
        ).collect()
    }
    assert rows[1] == (0, 0.0)
    assert rows[2] == (0, 0.0)
    assert rows[3] == (0, 0.0)  # 2 tokens < n=3
    # "a b a b a b": 4 3-grams, 2 distinct ("a b a", "b a b")
    assert rows[4] == (4, 0.5)


def test_redact_pii_handles_multiple_and_adjacent_matches(spark):
    df = spark.createDataFrame(
        [(1, "a@b.com and c.d+x@e.org call +55 11 91234-5678 or +44 20 7946-0958")],
        "id int, text string",
    )
    out = df.select(
        redact_pii("text").alias("t"),
        pii_counts("text")["n_emails"].alias("ne"),
        pii_counts("text")["n_phones"].alias("np"),
    ).collect()[0]
    assert out["ne"] == 2 and out["np"] == 2
    assert out["t"] == "<EMAIL> and <EMAIL> call <PHONE> or <PHONE>"


def test_word_ngram_rows_skips_short_docs_and_dedupes(spark):
    df = spark.createDataFrame(
        [(1, "x y"), (2, "p q r p q r p q r")],
        "doc_id long, text string",
    )
    rows = word_ngram_rows(df, "text", "doc_id", 3).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["gram"])
    assert 1 not in by_doc  # 2 tokens: no 3-grams
    # 7 positional grams but only 3 distinct rotations
    assert by_doc[2] == {"p q r", "q r p", "r p q"}


def test_lsh_bucket_cap_quarantines_duplicate_floods(spark):
    # 1000 identical docs share every band bucket: uncapped LSH would
    # expand ~500k pairs through one aggregation buffer. With the cap,
    # the flood is quarantined and NO pairs are emitted for it, while a
    # small genuine near-dup group below the cap still pairs normally.
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.operators.dedup import (
        dedup_exact,
        lsh_candidate_pairs,
    )

    flood_text = "the quick brown fox jumps over the lazy dog every day"
    near_a = "spark engines shuffle data between executors during wide stages"
    near_b = "spark engines shuffle data between executors during wide phases"
    rows = [(i, flood_text) for i in range(1000)] + [
        (2001, near_a),
        (2002, near_b),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs, quarantined = lsh_candidate_pairs(
        docs, bucket_cap=64, with_quarantine=True
    )
    got_pairs = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    # bounded: only the under-cap near-dup pair survives
    assert got_pairs == {(2001, 2002)}
    q = {r["doc_id"] for r in quarantined.collect()}
    assert q == set(range(1000))
    # the documented contract: exact dedup first removes the flood, then
    # LSH sees one representative and nothing is quarantined
    deduped = dedup_exact(docs)
    pairs2, quarantined2 = lsh_candidate_pairs(
        deduped, bucket_cap=64, with_quarantine=True
    )
    assert quarantined2.count() == 0
    got2 = {(r["doc_a"], r["doc_b"]) for r in pairs2.collect()}
    assert (2001, 2002) in got2


def test_lsh_neardup_verified_applies_bucket_cap(spark):
    from tinyerp_etl_spark.operators.dedup import lsh_neardup_verified

    rows = [(i, "identical flood document body repeated verbatim") for i in range(80)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert lsh_neardup_verified(docs, threshold=0.5, bucket_cap=16).count() == 0
    capped = lsh_neardup_verified(docs, threshold=0.5, bucket_cap=128)
    assert capped.count() == 80 * 79 // 2


def test_connected_components_depth_50_chain(spark):
    # min-label propagation over a 50-edge chain: ~50 rounds to
    # converge; the periodic localCheckpoint keeps each round's plan
    # shallow instead of re-evaluating an O(rounds²) join chain
    from tinyerp_etl_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "doc_a long, doc_b long"
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges, max_iterations=60).collect()
    }
    assert len(comp) == 51
    assert set(comp.values()) == {0}


def test_lsh_quarantine_outputs_are_disjoint(spark):
    # a doc may share an under-cap bucket with a neighbor while also
    # sitting in an over-cap flood bucket; with with_quarantine the
    # pair and quarantine outputs must not overlap
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.operators.dedup import lsh_candidate_pairs

    flood_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, flood_text) for i in range(30)] + [
        (900, "unique near duplicate text about spark shuffles and joins"),
        (901, "unique near duplicate text about spark shuffles and joined"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs, quarantined = lsh_candidate_pairs(
        docs, bucket_cap=8, with_quarantine=True
    )
    q = {r["doc_id"] for r in quarantined.collect()}
    assert q == set(range(30))
    touched = {
        x for r in pairs.collect() for x in (r["doc_a"], r["doc_b"])
    }
    assert touched.isdisjoint(q)
    assert (900, 901) in {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}


def test_bm25i_rank_contract(spark):
    """Rare terms outrank ubiquitous ones; tf saturates at the cap;
    longer docs are damped; ranking is exact-integer deterministic."""
    from tinyerp_etl_spark.operators.text import bm25i_topk

    rows = [
        (1, "rare common common"),              # rare term, short doc
        (2, "common common common common"),     # only common, tf-heavy
        (3, "rare " + "filler " * 40),          # rare term, long doc
        (4, "common rare rare"),                # rare twice, short
        (5, "nothing matching here"),
        # background docs: make 'common' genuinely common (df 8/10)
        # while 'rare' stays rare (df 3/10 -> more idf bits)
    ] + [(5 + i, "common filler filler") for i in range(1, 6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r["doc_id"], r["score"]) for r in
           bm25i_topk(docs, ["rare", "common"], k=10).collect()]
    ids = [d for d, _ in got]
    assert 5 not in ids                  # no matching term, no row
    assert ids.index(4) < ids.index(2)   # rare beats tf-saturated common
    assert ids.index(1) < ids.index(3)   # short rare doc beats long one
    scores = dict(got)
    assert all(isinstance(s, int) for s in scores.values())

    import pytest as _pytest

    with _pytest.raises(ValueError, match="query_terms"):
        bm25i_topk(docs, [])


def test_bm25i_tf_saturation(spark):
    """tf beyond the cap adds nothing: a 50x spam repeat scores the
    same as 5 mentions (the anti-keyword-stuffing property)."""
    from tinyerp_etl_spark.operators.text import bm25i_topk

    pad = "x " * 20  # identical lengths so norm cancels
    rows = [
        (1, ("term " * 5) + pad + "y " * 45),
        (2, ("term " * 50) + pad),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    scores = {r["doc_id"]: r["score"] for r in
              bm25i_topk(docs, ["term"], k=10).collect()}
    assert scores[1] == scores[2]


# ------------------------------------------------------- paragraph dedup


def test_paragraph_rows_chunking_and_tail(spark):
    from tinyerp_etl_spark.operators.dedup import paragraph_rows

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # 8 + 2-token tail
            (2, "solo"),
            (3, ""),  # empty -> no rows
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["doc_id"], r["pos"], r["para"])
        for r in paragraph_rows(docs).collect()
    )
    assert rows == [
        (1, 0, " ".join(f"w{i}" for i in range(8))),
        (1, 1, "w8 w9"),
        (2, 0, "solo"),
    ]


def test_paragraph_dedup_first_occurrence_wins(spark):
    from tinyerp_etl_spark.operators.dedup import paragraph_dedup_summary

    shared = " ".join(["dup"] * 8)
    unique_a = " ".join(f"a{i}" for i in range(8))
    unique_b = " ".join(f"b{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            # doc 1 holds the first occurrence (smallest (doc_id, pos))
            (1, unique_a + " " + shared),
            # doc 2 repeats it (drops), keeps its own unique paragraph
            (2, shared + " " + unique_b),
            # doc 3 is all repeats -> everything drops, md5('') rides
            (3, shared),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_paras"], r["n_kept"], r["n_dropped"], r["kept_text_md5"])
        for r in paragraph_dedup_summary(docs).collect()
    }
    import hashlib

    assert out[1] == (
        2, 2, 0,
        hashlib.md5((unique_a + " " + shared).encode()).hexdigest(),
    )
    assert out[2] == (2, 1, 1, hashlib.md5(unique_b.encode()).hexdigest())
    assert out[3] == (1, 0, 1, hashlib.md5(b"").hexdigest())


def test_paragraph_dedup_within_doc_repeat_drops_second(spark):
    from tinyerp_etl_spark.operators.dedup import paragraph_dedup_summary

    para = " ".join(["x"] * 8)
    docs = spark.createDataFrame(
        [(1, para + " " + para)], "doc_id long, text string"
    )
    r = paragraph_dedup_summary(docs).collect()[0]
    assert (r["n_paras"], r["n_kept"], r["n_dropped"]) == (2, 1, 1)


# ------------------------------------------------------------ BPE train


def test_bpe_train_canonical_example():
    from tinyerp_etl_spark.operators.text import bpe_train

    # the Sennrich et al. worked example: 'es' then 'est' win
    m = bpe_train(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)], 2
    )
    assert m == [(1, "e", "s", "es", 9), (2, "es", "t", "est", 9)]


def test_bpe_train_tie_breaks_to_smallest_pair():
    from tinyerp_etl_spark.operators.text import bpe_train

    # 'ab' and 'ba' both occur once; (a,b) < (b,a) lexicographically
    m = bpe_train([("ab", 1), ("ba", 1)], 1)
    assert m[0][1:3] == ("a", "b")


def test_bpe_train_merged_symbol_participates_in_later_rounds():
    from tinyerp_etl_spark.operators.text import bpe_train

    m = bpe_train([("aab", 3), ("aac", 2)], 2)
    assert m[0] == (1, "a", "a", "aa", 5)
    # round 2: the merged 'aa' symbol is a first-class pair member
    assert m[1][1:4] == ("aa", "b", "aab")


def test_bpe_train_shared_boundary_run_merges_once_per_pass():
    from tinyerp_etl_spark.operators.text import bpe_train

    # ' a a a b ': position count sees (a,a) twice, but the
    # non-overlapping replace merges only the first occurrence —
    # the documented encoding quirk, identical in the SQL oracle.
    m = bpe_train([("aaab", 4)], 2)
    assert m[0] == (1, "a", "a", "aa", 8)
    # remaining seq is ' aa a b ': (aa,a) and (a,b) tie at 4 and the
    # lexicographically smaller ('a','b') wins
    assert m[1] == (2, "a", "b", "ab", 4)


def test_bpe_train_stops_when_no_pairs_remain():
    from tinyerp_etl_spark.operators.text import bpe_train

    # single-char words have no adjacent pairs at all
    assert bpe_train([("a", 3), ("b", 1)], 5) == []
    # one word, fully merged before the merge budget runs out
    m = bpe_train([("ab", 2)], 5)
    assert len(m) == 1 and m[0][3] == "ab"


def test_bpe_segment_rejects_symbols_outside_alphabet(spark, monkeypatch):
    # merge symbols inline into a SQL expression; anything outside the
    # tokenizer alphabet must fail loudly, never build the expression
    from tinyerp_etl_spark.plans import llm_ops
    import pytest

    monkeypatch.setitem(
        llm_ops._ARTIFACT_CACHE,
        ("bpe_merges", "/bad/corpus"),
        [(1, "a'; drop", "b", "a'; dropb", 1)],
    )
    import os

    monkeypatch.setattr(os.path, "abspath", lambda p: p)
    with pytest.raises(ValueError, match="outside"):
        llm_ops.bpe_segment_stats(spark, "/bad/corpus")


def test_paragraph_index_fold_equals_rebuild_and_replay_is_noop(spark):
    from tinyerp_etl_spark.operators.dedup import (
        build_paragraph_index,
        update_paragraph_index,
    )

    p1 = " ".join(f"a{i}" for i in range(8))
    p2 = " ".join(f"b{i}" for i in range(8))
    p3 = " ".join(f"c{i}" for i in range(8))
    batch1 = spark.createDataFrame(
        [(1, p1 + " " + p2), (2, p2)], "doc_id long, text string"
    )
    batch2 = spark.createDataFrame(
        [(10, p2 + " " + p3), (11, p3)], "doc_id long, text string"
    )

    def as_set(df):
        return {(r["para"], r["first_doc"], r["first_pos"]) for r in df.collect()}

    folded = update_paragraph_index(
        update_paragraph_index(build_paragraph_index(batch1.limit(0)), batch1),
        batch2,
    )
    rebuilt = build_paragraph_index(batch1.unionByName(batch2))
    assert as_set(folded) == as_set(rebuilt)
    # p2's first occurrence stays (1, 1) — batch2's later copy never
    # overwrites history
    assert (p2, 1, 1) in as_set(folded)
    # replaying batch2 folds zero new rows
    replay = update_paragraph_index(folded, batch2)
    assert as_set(replay) == as_set(folded)


def test_paragraph_index_rejects_out_of_order_backfill(spark):
    import pytest

    from tinyerp_etl_spark.operators.dedup import (
        build_paragraph_index,
        update_paragraph_index,
    )

    para = " ".join(f"p{i}" for i in range(8))
    stored = build_paragraph_index(
        spark.createDataFrame([(100, para)], "doc_id long, text string")
    )
    backfill = spark.createDataFrame(
        [(5, para)], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="PREDATES"):
        update_paragraph_index(stored, backfill)
    # but an out-of-order batch of brand-new paragraphs folds fine
    new_para = " ".join(f"q{i}" for i in range(8))
    ok = update_paragraph_index(
        stored, spark.createDataFrame([(5, new_para)], "doc_id long, text string")
    )
    assert ok.count() == 2


def test_neardup_threshold_curve_is_monotone_nonincreasing(spark, sf_dir):
    """Raising the Jaccard cutoff can only drop pairs; with the
    tiered staging (J ~ 0.9/0.55/0.35) the curve must actually move
    across the swept thresholds at the default test scale."""
    from tinyerp_etl_spark.plans.llm_ops import neardup_threshold_curve

    rows = sorted(
        (r["t_p10k"], r["n_pairs"])
        for r in neardup_threshold_curve(spark, sf_dir).collect()
    )
    counts = [n for _, n in rows]
    assert counts == sorted(counts, reverse=True)
    assert counts[0] > counts[-1]  # the staging differentiates levels


def test_ngram_hash_mode_matches_exact(spark):
    """join_on_hash=True narrows the decontamination shuffle to an
    8-byte key; at test scale (collision-free by construction) the
    flagged docs and their counts must be identical to the
    exact-string join the oracle models."""
    from tinyerp_etl_spark.operators.dedup import ngram_decontaminate

    base = "one two three four five six seven eight nine ten eleven twelve thirteen"
    rows = [
        (1, base + " fourteen fifteen"),          # eval doc
        (2, "totally unrelated words " * 5),
        (3, "prefix words then " + base),         # leaks eval 13-gram
        (4, base),                                # exactly one gram, leaks
        (5, "short doc"),                         # < 13 tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    eval_set = docs.filter("doc_id = 1")
    corpus = docs.filter("doc_id <> 1")

    def rows_of(df):
        return sorted(
            (r["doc_id"], r["n_hit_grams"], r["n_eval_docs"])
            for r in df.collect()
        )

    exact = rows_of(ngram_decontaminate(corpus, eval_set))
    hashed = rows_of(ngram_decontaminate(corpus, eval_set, join_on_hash=True))
    assert exact == hashed
    assert [d for d, _, _ in exact] == [3, 4]


def _span_cov_rows(df):
    return {
        r["doc_id"]: (r["n_tokens"], r["n_dup_tokens"], r["coverage_ppm"])
        for r in df.collect()
    }


def test_dup_span_coverage_known_small(spark):
    """Hand-checked coverage: an 8-token span shared by two docs marks
    exactly those 8 positions in each; a 9-token shared run yields two
    OVERLAPPING dup grams whose covered positions de-overlap to 9; a
    span repeated only WITHIN one doc does not flag (cross-doc rule);
    docs shorter than the span width report zero without error."""
    from tinyerp_etl_spark.operators.dedup import dup_span_coverage

    s8 = " ".join(f"s{i}" for i in range(8))
    s9 = " ".join(f"t{i}" for i in range(9))
    rows = [
        (1, "a1 a2 a3 a4 " + s8 + " a5 a6 a7 a8"),  # span at pos 5-12 of 16
        (2, s8 + " b1 b2"),                          # span at pos 1-8 of 10
        (3, " ".join(f"c{i}" for i in range(10))),   # clean
        (4, "d1 d2"),                                # < 8 tokens
        (5, s9 + " e1"),                             # 9-run at pos 1-9 of 10
        (6, "f1 " + s9),                             # 9-run at pos 2-10 of 10
        (7, s8 + " " + s8),                          # within-doc repeat only
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # doc 7's s8 grams ARE cross-doc dups (docs 1/2 hold them too), so
    # split the fixture: first check the cross-doc geometry without 7
    got = _span_cov_rows(dup_span_coverage(docs.filter("doc_id <> 7")))
    assert got[1] == (16, 8, 8 * 1_000_000 // 16)
    assert got[2] == (10, 8, 8 * 1_000_000 // 10)
    assert got[3] == (10, 0, 0)
    assert got[4] == (2, 0, 0)
    assert got[5] == (10, 9, 9 * 1_000_000 // 10)
    assert got[6] == (10, 9, 9 * 1_000_000 // 10)
    # then the within-doc-only case in isolation: repetition inside a
    # single document never reaches the ≥2-distinct-docs rule
    solo = _span_cov_rows(dup_span_coverage(docs.filter("doc_id IN (3, 7)")))
    assert solo[7] == (16, 0, 0)
    assert solo[3] == (10, 0, 0)


def test_dup_span_hash_mode_matches_exact(spark):
    """join_on_hash=True swaps the gram string for xxhash64 before
    both shuffles; collision-free at test scale, the per-doc coverage
    must be identical to the exact-string topology the oracle models."""
    from tinyerp_etl_spark.operators.dedup import dup_span_coverage

    s8 = " ".join(f"s{i}" for i in range(8))
    rows = [
        (1, "a1 a2 " + s8),
        (2, s8 + " b1 b2 b3"),
        (3, "lone words only here today friend of mine"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = _span_cov_rows(dup_span_coverage(docs))
    hashed = _span_cov_rows(dup_span_coverage(docs, join_on_hash=True))
    assert exact == hashed
    assert exact[1][1] == 8 and exact[2][1] == 8 and exact[3][1] == 0


def test_remove_dup_spans_keep_one_canonical(spark):
    """The cleanup contract: the canonical (min doc_id, min pos)
    occurrence of a duplicated span survives whole; every other
    occurrence is deleted; clean docs pass through untouched; hash
    join-key mode is bit-identical to exact-string mode."""
    from tinyerp_etl_spark.operators import dedup as D

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared} three four"),
            (2, f"{shared} five six"),
            (3, "totally unique text with nothing shared here at all ok"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.remove_dup_spans(docs).collect()}
    assert out[1]["n_removed_tokens"] == 0  # canonical keeps its copy
    assert out[1]["clean_text"].count("alpha") == 1
    assert out[2]["n_removed_tokens"] == 8
    assert out[2]["clean_text"] == "five six"
    assert out[3]["n_removed_tokens"] == 0
    hashed = {r["doc_id"]: r for r in
              D.remove_dup_spans(docs, join_on_hash=True).collect()}
    assert {k: tuple(v) for k, v in hashed.items()} == {
        k: tuple(v) for k, v in out.items()
    }


def test_remove_dup_spans_overlap_protection(spark):
    """A position covered by BOTH a canonical span and an overlapping
    non-canonical duplicated gram stays protected — canonical text
    comes back whole, never punched full of holes by its neighbors."""
    from tinyerp_etl_spark.operators import dedup as D

    # doc 1 holds the canonical occurrence of ALL grams of the long
    # run (it is the min doc_id); doc 2 repeats the run shifted, so
    # doc 1's positions are covered by non-canonical grams of doc 2's
    # occurrence set as well — they must remain kept in doc 1.
    run = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    docs = spark.createDataFrame(
        [(1, f"{run} tail1"), (2, f"head2 {run}")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.remove_dup_spans(docs).collect()}
    assert out[1]["n_removed_tokens"] == 0
    assert out[1]["clean_text"] == f"{run} tail1"
    assert out[2]["clean_text"] == "head2"
    assert out[2]["n_removed_tokens"] == 10


def test_remove_dup_spans_matches_exact_model(spark):
    """Property: remove_dup_spans ≡ a brute-force Python model of the
    keep-one-canonical contract on randomized small corpora (short
    docs, empty docs, self-repeats, three-way duplication included)."""
    import re as _re

    from hypothesis import given, settings, strategies as st

    from tinyerp_etl_spark.operators import dedup as D

    words = [f"t{i}" for i in range(6)]
    doc = st.lists(st.sampled_from(words), min_size=0, max_size=8).map(" ".join)

    def model(texts, k):
        toks = {i: _re.findall(r"\w+", t.lower()) for i, t in enumerate(texts)}
        occ = [
            (i, p + 1, " ".join(ts[p : p + k]))
            for i, ts in toks.items()
            for p in range(len(ts) - k + 1)
        ]
        by_gram = {}
        for i, p, g in occ:
            by_gram.setdefault(g, []).append((i, p))
        dup = {g for g, os_ in by_gram.items()
               if len({i for i, _ in os_}) >= 2}
        covered, protected = set(), set()
        for g in dup:
            ci, cp = min(by_gram[g])
            protected.update((ci, cp + j) for j in range(k))
            for i, p in by_gram[g]:
                covered.update((i, p + j) for j in range(k))
        removed = covered - protected
        out = {}
        for i, ts in toks.items():
            kept = [t for p, t in enumerate(ts, 1) if (i, p) not in removed]
            out[i] = (len(ts), len(ts) - len(kept), " ".join(kept))
        return out

    @settings(max_examples=8, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=6))
    def run(texts):
        k = 3  # narrow spans so tiny docs actually collide
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_removed_tokens"], r["clean_text"])
            for r in D.remove_dup_spans(df, k=k).collect()
        }
        assert got == model(texts, k)

    run()


def test_remove_contaminated_spans_surgical(spark):
    """The leaked passage goes, the wrapper stays, NO canonical
    protection applies (a benchmark span has no legitimate training
    copy — contrast remove_dup_spans), sub-k bench docs contribute
    nothing, and hash mode ≡ exact mode."""
    from tinyerp_etl_spark.operators import dedup as D

    leak = "b1 b2 b3 b4 b5 b6 b7 b8"
    bench = spark.createDataFrame(
        [(100, leak), (101, "tiny")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, f"intro words {leak} outro words"),  # interior leak
            (2, leak),                               # whole-doc leak
            (3, "clean text with nothing shared from any benchmark doc"),
            (4, "tiny"),                             # sub-k bench text: no gram
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_removed_tokens"], r["clean_text"])
        for r in D.remove_contaminated_spans(docs, bench).collect()
    }
    assert got[1] == (8, "intro words outro words")
    assert got[2] == (8, "")  # even the FIRST copy goes — no protection
    assert got[3][0] == 0
    assert got[4] == (0, "tiny")
    hashed = {
        r["doc_id"]: (r["n_removed_tokens"], r["clean_text"])
        for r in D.remove_contaminated_spans(
            docs, bench, join_on_hash=True
        ).collect()
    }
    assert hashed == got


def test_remove_contaminated_spans_property(spark):
    """Randomized corpora vs an exact Python model: every position of
    a training doc covered by a k-gram present in the benchmark set is
    removed, nothing else is, and the rebuild joins kept tokens with
    single spaces in order — under colliding small-vocab texts, empty
    docs, sub-k docs, and bench/training overlap."""
    from hypothesis import given, settings, strategies as st

    from tinyerp_etl_spark.operators import dedup as D

    words = [f"w{i}" for i in range(4)]
    doc = st.lists(st.sampled_from(words), min_size=0, max_size=10).map(" ".join)
    k = 3

    def model(train_texts, bench_texts):
        bgrams = set()
        for t in bench_texts:
            toks = t.split()
            for i in range(len(toks) - k + 1):
                bgrams.add(" ".join(toks[i : i + k]))
        out = {}
        for did, t in enumerate(train_texts):
            toks = [w for w in t.split() if w]
            removed = set()
            for i in range(len(toks) - k + 1):
                if " ".join(toks[i : i + k]) in bgrams:
                    removed.update(range(i, i + k))
            kept = [w for j, w in enumerate(toks) if j not in removed]
            out[did] = (len(toks), len(removed), " ".join(kept))
        return out

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(doc, min_size=1, max_size=6),
        st.lists(doc, min_size=0, max_size=3),
    )
    def run(train_texts, bench_texts):
        train = spark.createDataFrame(
            list(enumerate(train_texts)), "doc_id long, text string"
        )
        bench = spark.createDataFrame(
            [(100 + i, t) for i, t in enumerate(bench_texts)] or [(100, "")],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_removed_tokens"], r["clean_text"])
            for r in D.remove_contaminated_spans(train, bench, k=k).collect()
        }
        assert got == model(train_texts, bench_texts if bench_texts else [""])

    run()


def test_rebuild_without_positions_array_form_edges(spark):
    """Focused test for the r14 array-form rebuild internals
    (dedup.removed_position_arrays + the HOF rebuild): NULL text keeps
    the (NULL, NULL, '') contract, a doc losing every token comes back
    '', an empty __rm array rebuilds untouched, and a doc absent from
    the removed frame passes through whole."""
    from pyspark.sql import functions as F

    from tinyerp_etl_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),       # positions 2-3 removed
            (2, "x y"),           # all tokens removed
            (3, None),            # NULL text: (NULL, NULL, '')
            (4, "k l m"),         # empty __rm -> untouched
            (5, "p q"),           # absent from removed -> untouched
        ],
        "doc_id long, text string",
    )
    removed = spark.createDataFrame(
        [(1, [2, 3]), (2, [1, 2]), (4, [])],
        "doc_id long, __rm array<int>",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed_tokens"], r["clean_text"])
        for r in D.rebuild_without_positions(docs, removed).collect()
    }
    assert got == {
        1: (4, 2, "a d"),
        2: (2, 2, ""),
        3: (None, None, ""),
        4: (3, 0, "k l m"),
        5: (2, 0, "p q"),
    }
    # removed_position_arrays: covered minus protected, per doc, with
    # the x-k interval expansion done inside the array
    cov = spark.createDataFrame(
        [(1, [1, 3]), (2, [5])], "doc_id long, __cps array<int>"
    )
    prot = spark.createDataFrame([(1, [1])], "doc_id long, __pps array<int>")
    arrs = {
        r["doc_id"]: sorted(r["__rm"])
        for r in D.removed_position_arrays(cov, prot, "doc_id", 3).collect()
    }
    # doc 1: covered {1,2,3} u {3,4,5} minus protected {1,2,3} = {4,5}
    # doc 2: covered {5,6,7}, no protection
    assert arrs == {1: [4, 5], 2: [5, 6, 7]}
