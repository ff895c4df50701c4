"""Dedup operators vs planted duplicates (the non-SQL-oracle ops get their
correctness gate here)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eel_spark.operators import dedup

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside "
    "every single morning before the sun rises over the quiet hills"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, BASE),
        (1, BASE),                                   # exact dup of 0
        (2, BASE.replace("quick", "speedy")),        # near dup of 0
        (3, BASE.replace("dog", "wolf").replace("cat", "lynx")),  # near dup
        (4, "completely different text about spark query engines and "
            "distributed columnar execution with vectorized operators "
            "running on large clusters of commodity machines every day"),
        (5, "THE  Quick  Brown fox jumps over the lazy dog while the cat watches "
            "from the warm windowsill and the birds sing in the garden outside "
            "every single morning before the sun rises over the quiet hills"),
        # normalized-exact dup of 0 (case/whitespace)
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_exact_duplicates_groups(corpus):
    groups = dedup.exact_duplicates(corpus, "text", "doc_id").collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [0, 1, 5]


def test_dedup_exact_survivors(corpus):
    survivors = sorted(r["doc_id"] for r in dedup.dedup_exact(corpus, "text", "doc_id").collect())
    assert survivors == [0, 2, 3, 4]


def test_minhash_finds_near_dups(corpus):
    pairs = dedup.minhash_near_duplicates(
        corpus, "text", "doc_id", threshold=0.5, num_hashes=64, bands=16
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    # exact dups + near dups of 0 must surface; the unrelated doc must not
    assert (0, 1) in found and (0, 5) in found
    assert (0, 2) in found or (0, 3) in found
    assert not any(4 in p for p in found)
    for r in pairs:
        assert r["jaccard"] >= 0.5
        assert 0.0 <= r["est_jaccard"] <= 1.0


def test_minhash_estimates_track_exact(corpus):
    pairs = dedup.minhash_near_duplicates(
        corpus, "text", "doc_id", threshold=0.3, num_hashes=64, bands=16
    ).collect()
    for r in pairs:
        assert abs(r["est_jaccard"] - r["jaccard"]) < 0.35  # 64 perms → coarse


def test_simhash_finds_near_dups(corpus):
    pairs = dedup.simhash_near_duplicates(
        corpus, "text", "doc_id", max_hamming=10, bands=16
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in found and (0, 5) in found  # identical → hamming 0
    assert not any(4 in p for p in found)
    ham = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert ham[(0, 1)] == 0 and ham[(0, 5)] == 0


def test_simhash_rejects_recall_hole():
    """max_hamming beyond the pigeonhole bound (bands-1) must be an error,
    not a silent recall hole."""
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_near_duplicates(None, "text", "doc_id", max_hamming=8, bands=4)


def test_simhash_band_recall_exhaustive(spark):
    """Band-join output must EQUAL brute-force hamming ≤ max_hamming pairs
    (pigeonhole guarantee, bands=8 → hamming ≤ 7) — including the 4-7
    range the r1 bands=4 configuration only found by luck."""
    from eel_spark.functions import hashes

    words = BASE.split()
    rows = []
    for k in range(16):
        w = list(words)
        for j in range(k):  # replace k words → fingerprints at varied hamming
            w[(j * 5) % len(w)] = f"sub{k}_{j}"
        rows.append((k, " ".join(w)))
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    fps = df.select(
        "doc_id", hashes.token_hashes("text").alias("__th")
    ).select("doc_id", hashes.simhash64_from_hashes(F.col("__th")).alias("fp"))
    brute = (
        fps.alias("l")
        .crossJoin(fps.alias("r"))
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            hashes.hamming64(F.col("l.fp"), F.col("r.fp")).alias("hamming"),
        )
        .filter(F.col("hamming") <= 7)
    )
    expected = {(r["id_a"], r["id_b"], r["hamming"]) for r in brute.collect()}
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_near_duplicates(
            df, "text", "doc_id", max_hamming=7, bands=8
        ).collect()
    }
    assert expected, "fixture produced no pairs within hamming 7 — weak test"
    assert {h for _, _, h in expected} - {0, 1, 2, 3} != set(), (
        "fixture has no pairs in the 4-7 hamming range — weak test"
    )
    assert got == expected


def _simhash64_column_built(hs):
    """Reference: the Column-API builder simhash64_from_hashes replaced
    (64 bit-vote aggregates, one py4j round trip per node)."""
    def bit_vote(b: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    out = F.lit(0).cast("long")
    for b in range(64):
        vote = F.aggregate(hs, F.lit(0).cast("long"), bit_vote(b))
        bit = F.when(vote > 0, F.lit(1).cast("long")).otherwise(F.lit(0))
        out = out.bitwiseOR(F.shiftleft(bit, b))
    return out


def test_simhash_sql_form_matches_column_built(spark):
    """The SQL-string simhash64_from_hashes is bit-identical to the
    Column-built form on the sf0.001 documents (same analyzed plan), for
    both accepted inputs; simhash64 matches the inlined reference; any
    other Column is refused with the projection rule."""
    from eel_spark.functions import hashes
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    th = docs.select("doc_id", "text", hashes.token_hashes("text").alias("__th"))
    ref = th.select("doc_id", _simhash64_column_built(F.col("__th")).alias("fp"))
    expected = sorted(ref.collect())
    assert len(expected) == docs.count() > 0
    for hs in ("__th", F.col("__th")):
        got = th.select("doc_id", hashes.simhash64_from_hashes(hs).alias("fp"))
        assert got.sameSemantics(ref)
        assert sorted(got.collect()) == expected
    inlined = th.select(
        "doc_id", _simhash64_column_built(hashes.token_hashes("text")).alias("fp")
    )
    conv = th.select("doc_id", hashes.simhash64("text").alias("fp"))
    assert conv.sameSemantics(inlined)
    assert sorted(conv.collect()) == expected
    with pytest.raises(TypeError, match="own select"):
        hashes.simhash64_from_hashes(hashes.token_hashes("text"))


def test_embedding_near_duplicates(spark):
    import math

    def unit(seed: int, dim: int = 16, jitter: float = 0.0):
        vals = [math.sin(seed * 31 + j) + (jitter if j == 0 else 0) for j in range(dim)]
        n = math.sqrt(sum(v * v for v in vals))
        return [v / n for v in vals]

    rows = [
        (0, unit(1)),
        (1, unit(1)),            # identical
        (2, unit(1, jitter=0.05)),  # very close
        (3, unit(7)),            # unrelated
        (4, unit(13)),           # unrelated
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    pairs = dedup.embedding_near_duplicates(
        df, "embedding", "vec_id", threshold=0.95, bands=4, bits_per_band=4
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in found
    assert all(p in {(0, 1), (0, 2), (1, 2)} for p in found)


def test_embedding_banded_recall_on_planted_pairs(spark):
    """Banded hyperplane LSH must recover ≥90% of planted near-dup pairs
    (the r1 single-bucket variant measured ≈43% recall); no false
    positives below the cosine threshold can survive the verify stage."""
    from eel_spark.queries.pipeline import planted_near_dup_embeddings
    from eel_spark.queries.tables import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings").df
    corpus = planted_near_dup_embeddings(emb, n_planted=20)
    pairs = dedup.embedding_near_duplicates(
        corpus, "embedding", "vec_id", threshold=0.9,
        bands=8, bits_per_band=8, max_bucket_size=200,
    ).collect()
    planted_found = {
        (r["id_a"], r["id_b"])
        for r in pairs
        if r["id_a"] == -r["id_b"] - 1 and 0 <= r["id_b"] < 20
    }
    assert len(planted_found) >= 18  # ≥90% of the 20 planted pairs
    for r in pairs:
        assert r["cos"] >= 0.9


def test_minhash_max_bucket_size_skips_giant_groups(spark):
    """A 50-member verbatim-duplicate group must be skippable via the
    bucket cap (its pairs belong to exact dedup), while genuinely distinct
    near-dup pairs still surface."""
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = [(i, base) for i in range(50)]  # giant exact-dup group
    rows += [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
             (101, "alpha beta gamma delta epsilon zeta eta theta iota mu")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    capped = dedup.minhash_near_duplicates(
        df, "text", "doc_id", threshold=0.5, max_bucket_size=10
    )
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in pairs
    assert not any(a < 100 and b < 100 for a, b in pairs)  # giant group skipped
    uncapped = dedup.minhash_near_duplicates(df, "text", "doc_id", threshold=0.5)
    assert any(a < 100 and b < 100 for a, b in
               {(r["id_a"], r["id_b"]) for r in uncapped.collect()})


def test_uncapped_bucket_pairs_stream_and_match_capped(spark):
    """Uncapped callers (max_bucket_size=None) must degrade to the
    streaming band self-join (r15 ADVICE: no unbounded collect_list
    buffer) AND produce exactly the pairs the fused capped path yields
    under a never-binding cap."""
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = [(i, base + (" extra" * (i % 3))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    uncapped = dedup.minhash_near_duplicates(df, "text", "doc_id", threshold=0.3)
    capped = dedup.minhash_near_duplicates(
        df, "text", "doc_id", threshold=0.3, max_bucket_size=10**6
    )
    got_u = sorted(map(tuple, uncapped.collect()))
    got_c = sorted(map(tuple, capped.collect()))
    assert got_u == got_c and got_u
    # the uncapped plan streams: no collect_list aggregation buffer
    uplan = uncapped._jdf.queryExecution().toString()
    assert "collect_list" not in uplan
    cplan = capped._jdf.queryExecution().toString()
    assert "collect_list" in cplan


def test_ngram_contamination_planted(spark):
    """Planted overlap: an eval doc quoting a 13-gram from one corpus doc
    must flag exactly that pair; disjoint docs must not be flagged."""
    from eel_spark.operators.dedup import ngram_contamination

    passage = "the quick brown fox jumps over the lazy dog while seven wizards watch quietly tonight"
    corpus = spark.createDataFrame(
        [
            (1, f"intro text here {passage} and some trailing words"),
            (2, "completely different content about distributed query engines and shuffles"),
            (3, "yet another unrelated document concerning parquet footers and bloom filters"),
        ],
        "doc_id: long, text: string",
    )
    evals = spark.createDataFrame(
        [(100, f"benchmark question quoting {passage} verbatim"),
         (101, "an eval prompt sharing no long phrases with anything")],
        "doc_id: long, text: string",
    )
    hits = ngram_contamination(corpus, evals, n=13).collect()
    pairs = {(r["corpus_id"], r["eval_id"]) for r in hits}
    assert (1, 100) in pairs
    assert all(c == 1 and e == 100 for c, e in pairs), pairs
    n_shared = {r["n_shared_ngrams"] for r in hits}
    assert all(v >= 1 for v in n_shared)

    # threshold: requiring more shared n-grams than exist clears the flag
    none = ngram_contamination(corpus, evals, n=13, min_shared=10_000).count()
    assert none == 0


def test_connected_components_and_survivors(spark):
    """Planted components: chains and stars collapse to min-id labels in
    O(diameter) rounds; survivors keep exactly one doc per component."""
    from eel_spark.operators.dedup import connected_components, survivors_from_pairs
    from pyspark.sql import functions as F

    # components: {1,2,3,4} (chain), {10,11} (pair), {20,21,22} (star on 20)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22)],
        "id_a: long, id_b: long",
    )
    comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in [1, 2, 3, 4, 10, 11, 20, 21, 22, 99]],
        "doc_id: long, text: string",
    )
    kept = sorted(
        r["doc_id"] for r in survivors_from_pairs(docs, pairs, "doc_id").collect()
    )
    assert kept == [1, 10, 20, 99]  # one per component + untouched 99


def test_connected_components_long_chain_bounded_plan(spark):
    """A 50-node chain needs ~49 propagation rounds — the worst case for
    lineage growth. localCheckpoint every 5 rounds must keep the final
    plan rooted at materialized blocks (shallow), not a 49-round join
    chain, while still converging to the exact min-label answer."""
    from eel_spark.operators.dedup import connected_components

    n = 50
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a: long, id_b: long"
    )
    out = connected_components(pairs, max_iterations=n + 5)
    comp = {r["node"]: r["component"] for r in out.collect()}
    assert comp == {i: 0 for i in range(n)}
    # lineage truncated: the optimized plan must not contain the round
    # joins — after the last checkpoint it is at most checkpoint_interval
    # rounds deep, so its node count stays far below the unchecked ~49-
    # round chain (which would carry hundreds of Join/Aggregate nodes)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") <= 10, f"lineage not truncated: {plan[:2000]}"
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan[:500]


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """With a checkpoint dir configured, the lineage-truncation branch
    uses reliable checkpoint() (files on disk, survives executor loss)
    instead of localCheckpoint, and the labels are identical."""
    from pyspark.sql import functions as F

    from eel_spark.operators.dedup import connected_components

    pairs = spark.range(19).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    expect = {(i, 0) for i in range(20)}

    def run():
        got = connected_components(pairs, max_iterations=30, checkpoint_interval=3)
        return {(r["node"], r["component"]) for r in got.collect()}

    assert run() == expect  # no dir: localCheckpoint fallback
    ckdir = str(tmp_path / "ck")
    spark.sparkContext.setCheckpointDir(ckdir)
    try:
        assert run() == expect
        import os

        found = any(fs for _, _, fs in os.walk(ckdir))
        assert found, "reliable checkpoint wrote no files"
    finally:
        # other tests assume no checkpoint dir; reset to the fallback
        getattr(spark._jsc.sc(), "checkpointDir_$eq")(
            spark._jvm.scala.Option.apply(None)
        )


def test_connected_components_star_matches_propagation(spark):
    """The O(log n)-round large-star/small-star alternation must produce
    byte-identical (node, component) labels to min-label propagation on
    every graph shape: chains (propagation's worst case), stars, self
    loops, reversed-id chains (min at the far end), and a random graph
    with cycles and merged components."""
    import random

    from eel_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    random.seed(42)
    shapes = {
        "mixed": [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22)],
        "chain": [(i, i + 1) for i in range(40)],
        "revchain": [(100 - i, 99 - i) for i in range(40)],
        "star": [(0, i) for i in range(1, 30)],
        "selfloop": [(5, 5), (7, 8)],
        "random": [
            (random.randrange(300), random.randrange(300)) for _ in range(250)
        ],
    }
    for name, rows in shapes.items():
        pairs = spark.createDataFrame(rows, "id_a: long, id_b: long")
        want = {
            (r["node"], r["component"])
            for r in connected_components(pairs, max_iterations=100).collect()
        }
        got = {
            (r["node"], r["component"])
            for r in connected_components_star(pairs).collect()
        }
        assert got == want, f"{name}: star labels diverge from propagation"


def test_connected_components_star_logarithmic_rounds(spark):
    """On a 64-deep chain, propagation needs ~63 rounds (min id moves one
    hop per round); the star alternation must finish well inside 10
    rounds — the whole point of the algorithm. max_iterations=10 acts as
    the proof: a diameter-bound algorithm could not converge in time."""
    from eel_spark.operators.dedup import connected_components_star

    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a: long, id_b: long"
    )
    out = connected_components_star(pairs, max_iterations=10)
    comp = {r["node"]: r["component"] for r in out.collect()}
    assert comp == {i: 0 for i in range(n)}


def test_survivors_from_pairs_star_default(spark):
    """survivors_from_pairs defaults to the star algorithm and keeps one
    doc per component either way."""
    from eel_spark.operators.dedup import survivors_from_pairs

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a: long, id_b: long"
    )
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in [1, 2, 3, 10, 11, 99]],
        "doc_id: long, text: string",
    )
    for algo in ("star", "propagation"):
        kept = sorted(
            r["doc_id"]
            for r in survivors_from_pairs(docs, pairs, "doc_id", algorithm=algo).collect()
        )
        assert kept == [1, 10, 99]


def test_remove_boilerplate_lines(spark):
    """Planted cookie-banner lines in most docs must vanish; rare lines,
    original bytes (indentation), line order, and boilerplate-free docs
    survive untouched; an all-boilerplate doc comes back empty."""
    from eel_spark.operators.dedup import frequent_lines, remove_boilerplate_lines

    banner = "ACCEPT ALL COOKIES TO CONTINUE"
    rows = []
    for i in range(10):
        body = f"unique body {i}\n  indented keeper {i}"
        rows.append((i, f"{banner}\n{body}\nSITE NAV MENU"))
    rows.append((10, "no banner here\njust content"))  # clean doc
    rows.append((11, banner))  # all-boilerplate doc
    df = spark.createDataFrame(rows, "doc_id: long, text: string")

    freq = frequent_lines(df, "text", "doc_id", min_docs=5)
    got = {r["line"]: r["n_docs"] for r in freq.collect()}
    assert got == {banner: 11, "SITE NAV MENU": 10}

    out = remove_boilerplate_lines(df, "text", "doc_id", min_docs=5)
    texts = {r["doc_id"]: r["text"] for r in out.collect()}
    assert texts[3] == "unique body 3\n  indented keeper 3"  # bytes + order kept
    assert texts[10] == "no banner here\njust content"
    assert texts[11] == ""
    assert len(texts) == 12  # no doc dropped

    # fraction variant: 5/12 ≈ 0.42 → same threshold
    out2 = remove_boilerplate_lines(df, "text", "doc_id", min_doc_fraction=0.42)
    assert {r["doc_id"]: r["text"] for r in out2.collect()} == texts

    # trimmed matching: an indented copy of the banner is still boilerplate
    df3 = df.union(
        spark.createDataFrame([(12, f"   {banner}\nreal line")],
                              "doc_id: long, text: string")
    )
    out3 = remove_boilerplate_lines(df3, "text", "doc_id", min_docs=5)
    t12 = {r["doc_id"]: r["text"] for r in out3.collect()}[12]
    assert t12 == "real line"

    # per-doc repeats count once: a line repeated 50x in ONE doc stays
    spam = spark.createDataFrame(
        [(i, "SPAM\n" * 3 + f"body {i}") for i in range(2)]
        + [(5, "\n".join(["only here"] * 50))],
        "doc_id: long, text: string",
    )
    f2 = frequent_lines(spam, "text", "doc_id", min_docs=3)
    assert f2.count() == 0


def test_boilerplate_crlf_and_tab_matching(spark):
    """\r\n newlines and tab indentation must not hide boilerplate:
    trimming covers all whitespace and splitting accepts both newline
    styles (rebuilt docs normalize to \n)."""
    from eel_spark.operators.dedup import remove_boilerplate_lines

    banner = "SUBSCRIBE TO OUR NEWSLETTER"
    rows = [(i, f"{banner}\r\nbody {i}") for i in range(4)]
    rows.append((4, f"\t{banner}\nkeep me"))
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r["doc_id"]: r["text"] for r in
           remove_boilerplate_lines(df, "text", "doc_id", min_docs=3).collect()}
    assert out[0] == "body 0"
    assert out[4] == "keep me"


def test_minhash_against_reference(spark):
    """Cross-corpus near-dedup: new docs matching reference docs are
    flagged (exact copies and bounded perturbations), new-only and
    ref-only near-dup pairs are NOT reported, and dedup_against keeps
    exactly the clean new docs."""
    from eel_spark.operators.dedup import dedup_against, minhash_near_duplicates_against

    base = BASE
    ref = spark.createDataFrame(
        [(100, base), (101, "reference only text " * 12), (102, "another ref " * 15)],
        "doc_id: long, text: string",
    )
    new = spark.createDataFrame(
        [
            (0, base),                                # verbatim copy of ref 100
            (1, base.replace("quick", "speedy")),     # near-dup of ref 100
            (2, "genuinely new material " * 12),
            (3, "genuinely new material " * 12 + "tail"),  # near-dup of NEW 2 only
        ],
        "doc_id: long, text: string",
    )
    pairs = minhash_near_duplicates_against(
        new, ref, "text", "doc_id", threshold=0.5
    ).collect()
    found = {(r["id_new"], r["id_ref"]) for r in pairs}
    assert (0, 100) in found and (1, 100) in found
    assert not any(p[0] in (2, 3) for p in found)  # new×new never reported
    assert all(p[1] >= 100 for p in found)
    for r in pairs:
        assert r["jaccard"] >= 0.5 and 0 <= r["est_jaccard"] <= 1

    kept = sorted(
        r["doc_id"]
        for r in dedup_against(new, ref, "text", "doc_id", threshold=0.5).collect()
    )
    assert kept == [2, 3]


def test_duplicated_span_removal(spark):
    """A 12-token passage planted in three docs: the first occurrence
    (by doc id, position) survives, later occurrences are cut, flanking
    text is untouched, and short shared strings below min_tokens are
    ignored. Docs shorter than the window produce no spans."""
    from eel_spark.operators.dedup import duplicated_spans, remove_duplicated_spans

    passage = " ".join(f"dup{i}" for i in range(12))
    short_shared = "common tiny phrase"
    rows = [
        (0, f"alpha beta {passage} gamma delta {short_shared}"),
        (1, f"one two three {passage} four {short_shared} five"),
        (2, f"{passage} standalone tail here"),
        (3, "entirely original content with no repeats at all today"),
        (4, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")

    spans = duplicated_spans(df, "text", "doc_id", min_tokens=12)
    got = {(r["doc_id"], r["start_token"], r["end_token"]) for r in spans.collect()}
    # doc0 passage at tokens [2,14), doc1 at [3,15), doc2 at [0,12)
    assert got == {(0, 2, 14), (1, 3, 15), (2, 0, 12)}

    out = {r["doc_id"]: r["text"] for r in
           remove_duplicated_spans(df, "text", "doc_id", min_tokens=12).collect()}
    # first occurrence (doc 0) keeps the passage; doc1/doc2 lose it
    assert out[0] == f"alpha beta {passage} gamma delta {short_shared}"
    assert out[1] == f"one two three four {short_shared} five"
    assert out[2] == "standalone tail here"
    assert out[3] == rows[3][1]
    assert out[4] == "tiny doc"
    assert len(out) == 5


def test_duplicated_span_overlapping_windows_merge(spark):
    """A long duplicated passage produces many overlapping dup windows;
    spans must merge into ONE interval per occurrence, and removal must
    excise exactly the passage."""
    from eel_spark.operators.dedup import duplicated_spans, remove_duplicated_spans

    passage = " ".join(f"p{i}" for i in range(30))  # 30 tokens, window 10
    rows = [
        (0, f"{passage} and some original trailing words"),
        (1, f"leading words then {passage}"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    spans = duplicated_spans(df, "text", "doc_id", min_tokens=10)
    got = {(r["doc_id"], r["start_token"], r["end_token"]) for r in spans.collect()}
    assert got == {(0, 0, 30), (1, 3, 33)}

    out = {r["doc_id"]: r["text"] for r in
           remove_duplicated_spans(df, "text", "doc_id", min_tokens=10).collect()}
    assert out[0] == f"{passage} and some original trailing words"
    assert out[1] == "leading words then"


def test_duplicated_span_keeper_protection(spark):
    """A kept occurrence must survive WHOLE even when a different
    duplicated passage's loser coverage overlaps it: doc0=W, doc1=W++T,
    doc2=V where V = tail of doc1 overlapping W's copy — without keeper
    protection V's kept occurrence in doc1 loses its head to W's loser
    coverage and the passage V survives nowhere."""
    from eel_spark.operators.dedup import remove_duplicated_spans

    W = [f"w{i}" for i in range(10)]          # 10-token passage
    T_ = [f"t{i}" for i in range(5)]
    doc1 = W + T_                              # W at [0,10), tail [10,15)
    V = doc1[5:15]                             # overlaps W's copy at [5,10)
    df = spark.createDataFrame(
        [(0, " ".join(W)), (1, " ".join(doc1)), (2, " ".join(V))],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r["text"] for r in
           remove_duplicated_spans(df, "text", "doc_id", min_tokens=10).collect()}
    # W keeps its doc0 occurrence; V's keeper is doc1@5 and must be whole
    assert out[0] == " ".join(W)
    assert " ".join(V) in out[1]
    assert out[2] == ""


def test_connected_components_raises_on_nonconvergence(spark):
    """A chain deeper than max_iterations must FAIL LOUDLY (unconverged
    labels would surface several survivors per component); star handles
    the same graph in O(log n) rounds."""
    import pytest as _pytest

    from eel_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a: long, id_b: long"
    )
    with _pytest.raises(ValueError, match="did not converge"):
        connected_components(chain, max_iterations=3, checkpoint_interval=0)
    comp = connected_components_star(chain)
    assert {r["component"] for r in comp.collect()} == {0}


def test_dedup_by_url(spark):
    from eel_spark.operators.dedup import dedup_by_url

    rows = [
        (1, "http://www.example.com/a?utm_source=feed&x=1"),
        (2, "example.com/a/?x=1"),
        (3, "http://example.com/a?x=2"),
        (4, "http://other.org/a?x=1"),
        (5, None),
        (6, "   "),
    ]
    df = spark.createDataFrame(rows, "id LONG, url STRING")
    kept = sorted(r["id"] for r in dedup_by_url(df, "url", "id").collect())
    assert kept == [1, 3, 4, 5, 6]


def test_dedup_paragraphs_first_occurrence_survives(spark):
    from eel_spark.operators.dedup import dedup_paragraphs, duplicate_paragraphs

    boiler = "subscribe to our newsletter for updates " * 3  # >=50 chars
    unique1 = "the first article body talks about distributed query engines at length"
    unique2 = "a second piece describes storage formats and their tradeoffs in detail"
    short = "Intro"  # under min_chars: repeats everywhere, never touched
    rows = [
        (1, f"{short}\n\n{unique1}\n\n{boiler}"),
        (2, f"{short}\n\n{boiler}\n\n{unique2}"),
        (3, f"{boiler}"),               # all substantial paragraphs are dups
        (4, None),                        # null text passes through
        (5, "no blank lines here just one paragraph of reasonable length ok"),
    ]
    df = spark.createDataFrame(rows, "id LONG, text STRING")

    rep = duplicate_paragraphs(df, "text", "id").collect()
    assert len(rep) == 1 and rep[0]["n_occurrences"] == 3

    got = {r["id"]: r["text"] for r in dedup_paragraphs(df, "text", "id").collect()}
    assert got[1] == f"{short}\n\n{unique1}\n\n{boiler}"   # first occurrence intact
    assert got[2] == f"{short}\n\n{unique2}"                # boiler removed, short kept
    assert got[3] == ""                                     # everything removed
    assert got[4] is None
    assert got[5] == rows[4][1]                             # untouched, byte-identical


def test_dedup_paragraphs_separator_normalization(spark):
    from eel_spark.operators.dedup import dedup_paragraphs

    boiler = "this paragraph is duplicated across both documents verbatim body"
    a = f"alpha paragraph with enough characters to clear the threshold\n\n\n{boiler}"
    b = f"{boiler}\n\n  \nbeta paragraph also long enough to clear the dedup threshold"
    df = spark.createDataFrame([(1, a), (2, b)], "id LONG, text STRING")
    got = {r["id"]: r["text"] for r in dedup_paragraphs(df, "text", "id").collect()}
    # doc 1 wins (smaller id); doc 2 rebuilt with normalized separator
    assert got[1] == a
    assert got[2] == "beta paragraph also long enough to clear the dedup threshold"


def test_dedup_paragraphs_within_doc(spark):
    from eel_spark.operators.dedup import dedup_paragraphs

    p = "a repeated paragraph inside one single document with enough length"
    df = spark.createDataFrame(
        [(1, f"{p}\n\nmiddle filler paragraph that is long enough to count\n\n{p}")],
        "id LONG, text STRING",
    )
    got = dedup_paragraphs(df, "text", "id").collect()[0]["text"]
    assert got == f"{p}\n\nmiddle filler paragraph that is long enough to count"


# -- cross-split contamination audit (r11) ------------------------------------


def _split_corpus(spark):
    """Docs with a planted 13-gram overlap straddling train/test, one
    inside train only, and clean docs."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"
    rows = [
        (1, f"intro {shared} outro one", "train"),
        (2, f"prefix {shared} suffix two", "test"),       # contaminates vs 1
        (3, f"another {shared} body three", "train"),     # same-split vs 1 — benign
        (4, "totally unrelated words " + " ".join(f"w{i}" for i in range(20)), "test"),
        (5, "clean doc " + " ".join(f"v{i}" for i in range(20)), "val"),
        (6, f"val copy {shared} tail six", "val"),        # contaminates vs 1,3 and 2
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string, split: string")


def test_split_contamination_pairs_and_report(spark):
    from eel_spark.operators.dedup import (
        split_contamination_pairs,
        split_contamination_report,
    )

    df = _split_corpus(spark)
    pairs = split_contamination_pairs(
        df, "text", "doc_id", eval_splits=["test", "val"]
    )
    got = {
        (r["corpus_id"], r["eval_id"]): (r["corpus_split"], r["eval_split"])
        for r in pairs.collect()
    }
    # train docs 1,3 each hit eval docs 2 (test) and 6 (val); eval docs
    # 2 and 6 also hit EACH OTHER (both directions: each is in the
    # corpus side too); same-split 1-3 and self pairs never appear
    assert set(got) == {(1, 2), (3, 2), (1, 6), (3, 6), (2, 6), (6, 2)}
    assert got[(1, 2)] == ("train", "test") and got[(6, 2)] == ("val", "test")
    rep = {
        (r["corpus_split"], r["eval_split"]): (
            r["n_pairs"], r["n_corpus_docs"], r["n_eval_docs"]
        )
        for r in split_contamination_report(
            df, "text", "doc_id", eval_splits=["test", "val"]
        ).collect()
    }
    assert rep == {
        ("train", "test"): (2, 2, 1),
        ("train", "val"): (2, 2, 1),
        ("val", "test"): (1, 1, 1),
        ("test", "val"): (1, 1, 1),
    }
    # min_shared above the planted single shingle run empties the report
    assert split_contamination_pairs(
        df, "text", "doc_id", eval_splits=["test"], min_shared=50
    ).count() == 0
    import pytest as _pytest
    with _pytest.raises(ValueError, match="eval_splits"):
        split_contamination_pairs(df, "text", "doc_id")


def test_contamination_pairs_feed_leakage_safe_resplit(spark):
    """The end-to-end fix: audit finds cross-split n-gram pairs → re-split
    with leakage_safe_split over those pairs → audit comes back empty."""
    from eel_spark.operators.dedup import (
        split_contamination_pairs,
        split_contamination_report,
    )
    from eel_spark.operators.sampling import leakage_safe_split

    df = _split_corpus(spark)
    pairs = split_contamination_pairs(
        df, "text", "doc_id", eval_splits=["test", "val"]
    ).select(
        F.col("corpus_id").alias("id_a"), F.col("eval_id").alias("id_b")
    )
    resplit = leakage_safe_split(
        df.drop("split"),
        {"train": 0.6, "val": 0.2, "test": 0.2},
        "doc_id",
        pairs=pairs,
        seed=1,
    )
    assert split_contamination_report(
        resplit, "text", "doc_id", eval_splits=["test", "val"]
    ).count() == 0
