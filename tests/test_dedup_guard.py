"""Giant-bucket guard for LSH candidate generation.

A boilerplate-heavy corpus can put thousands of near-identical documents in
one (band, bucket) — pair generation then goes quadratic in that bucket's
size.  ``max_bucket_size`` must bound the pair count, and the drop must be
observable (no silent caps): ``lsh_oversized_buckets`` reports exactly which
buckets were excluded.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from table_extractor_spark.operators.dedup import (
    lsh_buckets,
    lsh_candidate_pairs,
    lsh_oversized_buckets,
    minhash_signatures,
)


def _degenerate_corpus(spark):
    """40 byte-identical docs (one degenerate bucket per band) + 3 distinct
    docs + 2 mutual near-dups that only agree on some bands."""
    rows = [(f"dup_{i}", "the same boilerplate text repeated everywhere")
            for i in range(40)]
    rows += [
        ("uniq_a", "completely different words about painting and rivers"),
        ("uniq_b", "another unrelated text on geology and mineral strata"),
        ("uniq_c", "a third singleton document concerning harbor logistics"),
        ("near_1", "shared prefix words here then tail alpha beta gamma delta"),
        ("near_2", "shared prefix words here then tail alpha beta gamma zeta"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_bucket_cap_bounds_pair_count(spark):
    docs = _degenerate_corpus(spark)
    buckets = lsh_buckets(minhash_signatures(docs))

    uncapped = lsh_candidate_pairs(buckets).count()
    # the 40 identical docs alone give 40*39/2 = 780 pairs
    assert uncapped >= 780

    capped = lsh_candidate_pairs(buckets, max_bucket_size=10)
    capped_rows = capped.collect()
    # every degenerate pair is gone; only small-bucket candidates remain
    assert len(capped_rows) < 40
    assert not any(r.a.startswith("dup_") for r in capped_rows)
    # the survivors still include the genuine near-dup pair
    assert ("near_1", "near_2") in {(r.a, r.b) for r in capped_rows}


def test_dropped_buckets_are_reported(spark):
    docs = _degenerate_corpus(spark)
    buckets = lsh_buckets(minhash_signatures(docs))

    dropped = lsh_oversized_buckets(buckets, max_bucket_size=10).collect()
    # identical docs share every band's bucket -> one oversized bucket per band
    assert len(dropped) == 4
    assert all(r.size == 40 for r in dropped)
    assert sorted(r.band for r in dropped) == [0, 1, 2, 3]


def test_cap_does_not_add_extra_shuffle(spark):
    """The size guard must ride the (band, bucket) partitioning the self-join
    already needs — same number of Exchanges as the uncapped plan."""
    docs = _degenerate_corpus(spark)
    buckets = lsh_buckets(minhash_signatures(docs))

    def n_exchanges(df):
        qe = df._jdf.queryExecution()
        plan = df.sparkSession._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            qe, "formatted"
        )
        return plan.count("Exchange")

    base = n_exchanges(lsh_candidate_pairs(buckets))
    capped = n_exchanges(lsh_candidate_pairs(buckets, max_bucket_size=10))
    assert capped <= base + 1  # at most the window's own exchange, reused


def test_incremental_candidates_match_full_rerun(spark):
    """Incremental candidate generation (new batch vs standing corpus) must
    equal the full-rerun pairs MINUS the corpus-internal pairs it is designed
    to skip, and must never emit a corpus-corpus pair."""
    from table_extractor_spark.operators.dedup import (
        lsh_incremental_candidate_pairs,
    )

    docs = _degenerate_corpus(spark)
    buckets = lsh_buckets(minhash_signatures(docs))
    # corpus = dup_* docs; increment = uniq_* and near_* docs
    corpus_b = buckets.filter(buckets.doc_id.startswith("dup_"))
    new_b = buckets.filter(~buckets.doc_id.startswith("dup_"))

    inc = {(r.a, r.b) for r in
           lsh_incremental_candidate_pairs(new_b, corpus_b).collect()}
    full = {(r.a, r.b) for r in lsh_candidate_pairs(buckets).collect()}
    corpus_only = {
        (a, b) for a, b in full
        if a.startswith("dup_") and b.startswith("dup_")
    }
    assert inc == full - corpus_only
    assert ("near_1", "near_2") in inc
    assert not any(a.startswith("dup_") and b.startswith("dup_")
                   for a, b in inc)


def test_incremental_candidates_respect_bucket_cap(spark):
    from table_extractor_spark.operators.dedup import (
        lsh_incremental_candidate_pairs,
    )

    docs = _degenerate_corpus(spark)
    buckets = lsh_buckets(minhash_signatures(docs))
    corpus_b = buckets.filter(buckets.doc_id.startswith("dup_"))
    new_b = buckets.filter(~buckets.doc_id.startswith("dup_"))
    # one more dup in the increment joins the 40-doc degenerate bucket ->
    # capped out entirely; the genuine near-dup pair survives
    extra = lsh_buckets(minhash_signatures(spark.createDataFrame(
        [("dup_new", "the same boilerplate text repeated everywhere")],
        ["doc_id", "text"])))
    inc = {(r.a, r.b) for r in lsh_incremental_candidate_pairs(
        new_b.unionByName(extra), corpus_b, max_bucket_size=10
    ).collect()}
    assert not any("dup" in a or "dup" in b for a, b in inc), inc
    assert ("near_1", "near_2") in inc


def _passage_docs(spark):
    """Fixture: doc A and doc B share one exact 25-token passage; doc C is
    fully disjoint; doc D duplicates doc A wholesale."""
    shared = " ".join(f"s{i}" for i in range(25))
    a_text = " ".join(f"a{i}" for i in range(30)) + " " + shared + " " + \
        " ".join(f"z{i}" for i in range(30))
    b_text = " ".join(f"b{i}" for i in range(10)) + " " + shared
    c_text = " ".join(f"c{i}" for i in range(80))
    return spark.createDataFrame(
        [("A", a_text), ("B", b_text), ("C", c_text), ("D", a_text)],
        "doc_id string, text string",
    )


def test_duplicate_passages_finds_shared_runs(spark):
    from table_extractor_spark.operators.dedup import duplicate_passages

    docs = _passage_docs(spark)
    out = {
        r.doc_id: (r.start_pos, r.end_pos, r.n_windows)
        for r in duplicate_passages(docs, k=20, min_docs=2).collect()
    }
    # doc C shares nothing
    assert "C" not in out
    # doc B: 10 own tokens then the 25 shared -> run is exactly the
    # shared passage (starts at token 11, ends at 35)
    assert out["B"] == (11, 35, 6)  # window starts 11..16 (25-20+1=6)
    # docs A and D are verbatim copies -> their ENTIRE text is one run
    n_a = 30 + 25 + 30
    assert out["A"] == (1, n_a, n_a - 19)
    assert out["D"] == out["A"]


def test_duplicate_passages_no_false_positives(spark):
    from table_extractor_spark.operators.dedup import duplicate_passages

    docs = spark.createDataFrame(
        [(f"d{j}", " ".join(f"w{j}_{i}" for i in range(60))) for j in range(5)],
        "doc_id string, text string",
    )
    assert duplicate_passages(docs, k=20, min_docs=2).count() == 0


def test_duplicate_passages_merges_only_overlapping_windows(spark):
    from table_extractor_spark.operators.dedup import duplicate_passages

    # two shared passages inside one doc, separated by a >k unique gap ->
    # two distinct maximal runs, not one
    p1 = " ".join(f"p{i}" for i in range(20))
    p2 = " ".join(f"q{i}" for i in range(20))
    gap = " ".join(f"g{i}" for i in range(40))
    host = p1 + " " + gap + " " + p2
    other = p1 + " " + " ".join(f"x{i}" for i in range(40)) + " " + p2
    docs = spark.createDataFrame(
        [("H", host), ("O", other)], "doc_id string, text string"
    )
    runs = sorted(
        (r.start_pos, r.end_pos)
        for r in duplicate_passages(docs, k=20, min_docs=2)
        .filter(F.col("doc_id") == "H").collect()
    )
    assert runs == [(1, 20), (61, 80)]


def test_cut_duplicate_passages_removes_exactly_flagged_ranges(spark):
    from table_extractor_spark.operators.dedup import cut_duplicate_passages

    docs = _passage_docs(spark)
    out = {r.doc_id: r.asDict() for r in
           cut_duplicate_passages(docs, k=20, min_docs=2).collect()}
    # every input doc comes back, including wholly-duplicated ones
    assert set(out) == {"A", "B", "C", "D"}
    # C untouched
    assert out["C"]["n_removed"] == 0
    assert out["C"]["text"] == " ".join(f"c{i}" for i in range(80))
    # B loses exactly the shared 25-token passage, keeps its own 10
    assert out["B"]["n_kept"] == 10
    assert out["B"]["n_removed"] == 25
    assert out["B"]["text"] == " ".join(f"b{i}" for i in range(10))
    # A and D are verbatim copies: everything cut, honest empty rows
    for d in ("A", "D"):
        assert out[d]["text"] == ""
        assert out[d]["n_kept"] == 0
        assert out[d]["n_removed"] == 85


def test_duplicate_passages_seeded_planting_sweep(spark):
    """Seeded randomized sweep: 24 corpora, each two docs with unique
    vocabularies sharing ONE planted passage of random length >= k at
    random positions — detection must recover the exact planted token
    ranges (no off-by-one at any offset/length), and the cut must remove
    exactly the planted tokens."""
    import random

    from table_extractor_spark.operators.dedup import (
        cut_duplicate_passages,
        duplicate_passages,
    )

    k = 12
    rng = random.Random(20260817)
    rows, expected, exp_removed = [], {}, {}
    for j in range(24):
        plen = rng.randint(k, k + 17)
        shared = [f"s{j}_{t}" for t in range(plen)]
        a, b = rng.randint(0, 25), rng.randint(0, 25)
        tail_h, tail_o = rng.randint(k + 1, 30), rng.randint(k + 1, 30)
        h_words = (
            [f"h{j}_{t}" for t in range(a)]
            + shared
            + [f"H{j}_{t}" for t in range(tail_h)]
        )
        o_words = (
            [f"o{j}_{t}" for t in range(b)]
            + shared
            + [f"O{j}_{t}" for t in range(tail_o)]
        )
        rows += [(f"h{j}", " ".join(h_words)), (f"o{j}", " ".join(o_words))]
        expected[f"h{j}"] = (a + 1, a + plen)
        expected[f"o{j}"] = (b + 1, b + plen)
        exp_removed[f"h{j}"] = exp_removed[f"o{j}"] = plen
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    got = {
        r.doc_id: (r.start_pos, r.end_pos)
        for r in duplicate_passages(docs, k=k, min_docs=2).collect()
    }
    assert got == expected

    cut = {r.doc_id: r.n_removed
           for r in cut_duplicate_passages(docs, k=k, min_docs=2).collect()}
    assert {d: n for d, n in cut.items() if n} == exp_removed


def test_winnowing_shared_passage_shares_fingerprints(spark):
    from table_extractor_spark.operators.dedup import (
        winnowing_fingerprints,
        winnowing_overlap_pairs,
    )

    shared = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            ("d1", "intro words go here first " + shared + " tail piece one"),
            ("d2", "a totally different preamble text " + shared + " end"),
            ("d3", "nothing in common with anything else at all whatsoever"),
        ],
        ["doc_id", "text"],
    )
    fps = winnowing_fingerprints(docs)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    # the shared passage guarantees common fingerprints despite different
    # surroundings (different offsets included)
    assert len(by_doc["d1"] & by_doc["d2"]) >= 2
    assert not (by_doc["d1"] & by_doc["d3"])
    pairs = winnowing_overlap_pairs(fps, min_shared=2).collect()
    assert [(p.a, p.b) for p in pairs] == [("d1", "d2")]


def test_winnowing_every_window_is_covered(spark):
    from table_extractor_spark.operators.dedup import winnowing_fingerprints

    # deterministic 60-word doc with no repeated 3-grams
    words = " ".join(f"w{i * 7 % 61}x{i}" for i in range(60))
    docs = spark.createDataFrame([("d", words)], ["doc_id", "text"])
    picked = sorted(
        r.pos for r in winnowing_fingerprints(docs, window=8).collect()
    )
    n_shingles = 60 - 2
    # the winnowing guarantee: every full window of 8 consecutive shingle
    # positions contains at least one selected fingerprint position
    for start in range(0, n_shingles - 8 + 1):
        assert any(start <= p <= start + 7 for p in picked), (start, picked)


def test_winnowing_short_doc_still_fingerprints(spark):
    from table_extractor_spark.operators.dedup import winnowing_fingerprints

    docs = spark.createDataFrame(
        [("tiny", "just two"), ("empty", "")], ["doc_id", "text"]
    )
    rows = winnowing_fingerprints(docs).collect()
    got = {(r.doc_id, r.pos) for r in rows}
    # a doc shorter than the window keeps its single short-window pick
    assert ("tiny", 0) in got
    # even the empty doc resolves deterministically (single empty shingle)
    assert ("empty", 0) in got


def test_winnowing_overlap_cap_excludes_degenerate_fingerprints(spark):
    from table_extractor_spark.operators.dedup import (
        winnowing_fingerprints,
        winnowing_overlap_pairs,
    )

    boiler = "copyright footer text repeated on every single page here now"
    docs = spark.createDataFrame(
        [(f"d{i}", boiler) for i in range(6)], ["doc_id", "text"]
    )
    fps = winnowing_fingerprints(docs)
    uncapped = winnowing_overlap_pairs(fps, min_shared=1)
    assert uncapped.count() == 15  # all C(6,2) pairs
    capped = winnowing_overlap_pairs(fps, min_shared=1, max_fp_docs=3)
    assert capped.count() == 0


def test_winnowing_rejects_docs_beyond_position_budget(spark):
    import pytest
    from table_extractor_spark.operators.dedup import winnowing_fingerprints

    # pos_budget parameterizes the int64 pack, so the guard is exercised
    # for real at a tiny budget instead of materializing a 2^20-word doc
    docs = spark.createDataFrame(
        [("d", " ".join(f"w{i}" for i in range(20)))], ["doc_id", "text"]
    )
    with pytest.raises(Exception, match="position budget"):
        winnowing_fingerprints(docs, pos_budget=16).count()
    # the same doc fingerprints fine one budget notch up (19 shingles < 32)
    assert winnowing_fingerprints(docs, pos_budget=32).count() > 0


def test_simhash_hamming_pairs_recall_matches_brute_force(spark):
    """Pigeonhole recall pin: block-join candidates find EVERY pair within
    the Hamming ball — cross-check the operator against an all-pairs
    bit_count(xor) computed straight off the signature table."""
    from table_extractor_spark.operators.dedup import (
        simhash_hamming_pairs,
        simhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, f"shared words body tail token{i % 7} token{i % 3}")
         for i in range(60)],
        ["doc_id", "text"],
    )
    sigs = simhash_signatures(docs).persist()
    got = {
        (r.a, r.b, r.hamming)
        for r in simhash_hamming_pairs(sigs, max_distance=3).collect()
    }
    l = sigs.select(F.col("doc_id").alias("a"), F.col("simhash").alias("sa"))
    r = sigs.select(F.col("doc_id").alias("b"), F.col("simhash").alias("sb"))
    brute = {
        (row.a, row.b, row.hamming)
        for row in l.join(r, F.col("a") < F.col("b"))
        .select(
            "a", "b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
            .cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    sigs.unpersist()
    assert brute, "fixture must produce at least one close pair"
    assert got == brute


def test_simhash_hamming_pairs_validates_block_layout(spark):
    import pytest
    from table_extractor_spark.operators.dedup import simhash_hamming_pairs

    sigs = spark.createDataFrame([(1, 5), (2, 7)], ["doc_id", "simhash"])
    with pytest.raises(ValueError, match="must divide"):
        simhash_hamming_pairs(sigs, blocks=5)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_hamming_pairs(sigs, max_distance=4, blocks=4)


def test_simhash_hamming_block_cap_bounds_and_is_observable(spark):
    """The degenerate-block guard mirrors the LSH bucket cap: identical
    fingerprints all land in the same 4 blocks, so a cap excludes them
    from pair generation while distinct near pairs survive."""
    from table_extractor_spark.operators.dedup import simhash_hamming_pairs

    rows = [(i, 0x12345678) for i in range(40)]          # one degenerate ball
    rows += [(100, 0x0F0F0F0F), (101, 0x0F0F0F0E)]       # hamming 1 pair
    sigs = spark.createDataFrame(rows, ["doc_id", "simhash"])
    uncapped = simhash_hamming_pairs(sigs, max_distance=3)
    assert uncapped.count() == 40 * 39 // 2 + 1
    capped = simhash_hamming_pairs(sigs, max_distance=3, max_block_size=10)
    pairs = {(r.a, r.b) for r in capped.collect()}
    assert pairs == {(100, 101)}


def test_ngram_jaccard_verify_scan_is_candidate_pruned(spark):
    """The verify stage's text-side scan must read O(candidates), not
    O(corpus): ngram_jaccard semi-joins the candidate id set into the text
    side BEFORE shingling (visible as a LeftSemi join in the optimized
    plan), and its output only ever touches candidate ids."""
    from table_extractor_spark.operators.dedup import (
        ngram_containment,
        ngram_jaccard,
    )

    docs = spark.createDataFrame(
        [(f"doc_{i}", " ".join(f"w{i}_{j}" for j in range(20)))
         for i in range(200)],
        "doc_id string, text string",
    )
    pairs = spark.createDataFrame(
        [("doc_1", "doc_2"), ("doc_1", "doc_3")], "a string, b string"
    )
    for fn in (ngram_jaccard, ngram_containment):
        out = fn(docs, pairs)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LeftSemi" in plan, f"{fn.__name__} lost the candidate prune"
        got = {r.a for r in out.collect()} | {r.b for r in out.collect()}
        assert got <= {"doc_1", "doc_2", "doc_3"}
