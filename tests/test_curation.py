"""Behavioral tests for the curation operators (queries/curation.py has
the oracle-parity coverage; these pin the operator CONTRACTS on
adversarial synthetic inputs the fixture corpus can't produce)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_poc_spark.operators import curation


def test_pack_greedy_invariants(spark):
    """Every bin total <= budget unless the bin is a single oversized
    doc; bin ids are contiguous from 0 per group; packing respects
    doc_id order (a doc never lands in an earlier bin than a
    lower-id doc of the same group)."""
    rows = [
        # group a: fits in pairs
        ("a", 1, 300), ("a", 2, 150), ("a", 3, 400), ("a", 4, 90),
        # group b: an oversized doc mid-stream
        ("b", 1, 200), ("b", 2, 900), ("b", 3, 200), ("b", 4, 350),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tok long")
    out = curation.pack_greedy(df, budget=500).collect()
    by_group: dict[str, list] = {}
    for r in sorted(out, key=lambda r: (r.source, r.doc_id)):
        by_group.setdefault(r.source, []).append(r)
    assert sum(len(v) for v in by_group.values()) == len(rows)
    for g, rs in by_group.items():
        # contiguous bins starting at 0
        bins = [r.bin_id for r in rs]
        assert bins[0] == 0
        assert all(b2 - b1 in (0, 1) for b1, b2 in zip(bins, bins[1:]))
        # budget respected except single-doc bins
        totals: dict[int, int] = {}
        counts: dict[int, int] = {}
        for r in rs:
            totals[r.bin_id] = totals.get(r.bin_id, 0) + r.n_tok
            counts[r.bin_id] = counts.get(r.bin_id, 0) + 1
        for b, tot in totals.items():
            assert tot <= 500 or counts[b] == 1, (g, b, tot)
    # the oversized doc sits alone
    b_rows = {r.doc_id: r for r in by_group["b"]}
    big_bin = b_rows[2].bin_id
    assert sum(1 for r in by_group["b"] if r.bin_id == big_bin) == 1


def test_pack_greedy_exact_assignment(spark):
    """Pin the exact greedy recurrence on a hand-computed case."""
    rows = [("s", i, t) for i, t in enumerate([100, 250, 200, 60, 500, 10])]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tok long")
    got = {r.doc_id: r.bin_id for r in curation.pack_greedy(df, budget=500).collect()}
    # 100+250 = 350, +200 would exceed -> bin1: 200+60=260, +500 exceeds
    # -> bin2: 500 exactly fills, +10 exceeds -> bin3: 10
    assert got == {0: 0, 1: 0, 2: 1, 3: 1, 4: 2, 5: 3}


def test_pack_greedy_sharded_matches_per_shard_greedy(spark):
    """With n_shards, packing runs independently per (group, shard =
    doc_id % n): the sharded output equals running the plain greedy
    recurrence over each shard's doc-id-ordered slice, and bins never
    mix shards."""
    rows = [("s", i, 120 + 7 * (i % 5)) for i in range(40)]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tok long")
    out = curation.pack_greedy(df, budget=400, n_shards=4).collect()
    assert len(out) == len(rows)
    assert all(r.shard == r.doc_id % 4 for r in out)
    for shard in range(4):
        docs = sorted((i, t) for (_, i, t) in rows if i % 4 == shard)
        fill, b, expect = 0, -1, {}
        for i, t in docs:
            if b < 0 or fill + t > 400:
                b, fill = b + 1, t
            else:
                fill += t
            expect[i] = b
        got = {r.doc_id: r.bin_id for r in out if r.shard == shard}
        assert got == expect, shard


def test_pack_greedy_nonstring_group_col(spark):
    """The applyInPandas schema derives the group/id/ntok field types
    from the input schema, so a numeric group key packs correctly."""
    rows = [(7, 1, 300), (7, 2, 300), (8, 3, 100)]
    df = spark.createDataFrame(rows, "grp long, doc_id long, n_tok long")
    out = curation.pack_greedy(df, budget=500, group_col="grp").collect()
    assert {(r.grp, r.doc_id, r.bin_id) for r in out} == {
        (7, 1, 0), (7, 2, 1), (8, 3, 0)
    }
    assert dict(out[0].asDict()).keys() == {"grp", "doc_id", "n_tok", "bin_id"}


def test_ngram_contamination_detects_planted_copy(spark):
    """A candidate doc sharing a long verbatim span with a benchmark
    doc is flagged; an unrelated doc is not."""
    bench_text = " ".join(f"w{i}" for i in range(40))
    leaked = " ".join(f"w{i}" for i in range(12)) + " zzz unrelated tail here"
    clean = " ".join(f"x{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, bench_text, "bench"), (2, leaked, "train"), (3, clean, "train")],
        "doc_id long, text string, source string",
    )
    out = {
        r.doc_id: (r.n_hit_grams, r.contaminated)
        for r in curation.ngram_contamination(
            df, bench_pred=F.col("source") == "bench", n=8, min_hits=3
        ).collect()
    }
    # 12-token shared span -> 5 distinct shared 8-grams
    assert 1 not in out  # benchmark docs never flagged
    assert out[2] == (5, True)
    assert 3 not in out  # zero hits -> no row


def test_repetition_score_extremes(spark):
    """All-identical tokens -> ratio ~1; all-distinct tokens -> 0;
    short docs -> 0 over 0 grams."""
    df = spark.createDataFrame(
        [
            (1, " ".join(["dup"] * 20)),
            (2, " ".join(f"t{i}" for i in range(20))),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in curation.repetition_score(df, n=5).collect()}
    assert out[1].n_grams == 16 and out[1].rep_ratio == round(1 - 1 / 16, 5)
    assert out[2].rep_ratio == 0.0
    assert out[3].n_grams == 0 and out[3].rep_ratio == 0.0


def test_pii_redact_scrubs_and_counts(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b-c_d@foo-bar.co and +1-555-0199 twice a@b.io")],
        "doc_id long, text string",
    )
    r = curation.pii_redact(df).collect()[0]
    assert r.n_emails == 2 and r.n_phones == 1
    assert "<EMAIL>" in r.redacted and "<PHONE>" in r.redacted
    assert "@" not in r.redacted and "+1-555" not in r.redacted


def test_contains_probes_automaton_equals_broadcast(spark):
    """The Aho-Corasick mapInPandas path must emit exactly the broadcast
    non-equi-join rows — same docs, same distinct-probe hit counts —
    including overlapping and nested probes."""
    from cdc_poc_spark.tables import load_table

    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    probes = [
        r.probe
        for r in docs.filter(F.pmod(F.col("doc_id"), F.lit(97)) == 0)
        .select(F.substring("text", 1, 40).alias("probe"))
        .distinct()
        .collect()
    ]
    bc = {
        (r.doc_id, r.n_probes_hit)
        for r in curation.contains_probes(docs, probes, method="broadcast").collect()
    }
    ac = {
        (r.doc_id, r.n_probes_hit)
        for r in curation.contains_probes(docs, probes, method="automaton").collect()
    }
    assert ac == bc and bc  # non-empty: the probe docs self-hit


def test_contains_probes_overlapping_nested(spark):
    """Nested/overlapping probes all count: 'ab', 'abc', 'b' in 'abcb'
    -> 3 distinct probes hit (output sets merged along failure links)."""
    df = spark.createDataFrame([(1, "abcb"), (2, "zzz")], "doc_id long, text string")
    for method in ("broadcast", "automaton"):
        out = {
            r.doc_id: r.n_probes_hit
            for r in curation.contains_probes(
                df, ["ab", "abc", "b"], method=method
            ).collect()
        }
        assert out == {1: 3}, (method, out)


def test_bloom_decontaminate_releases_its_gram_cache(spark):
    """pipeline_bloom_decontaminate persists the corpus-sized gram
    relation for its four consumers; once the query's result has been
    collected, the session's CacheManager must be empty again."""
    from cdc_poc_spark.queries import all_specs

    from .conftest import SF_DIR

    spark.catalog.clearCache()
    all_specs()["pipeline_bloom_decontaminate"].fn(spark, SF_DIR).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
