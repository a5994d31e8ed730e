"""Similarity, duplicate detection, clustering, dedup-family anchors
(reference test_duplicate_detector.py invariants)."""

from pyspark.sql import functions as F

from conversation_analysis_tools_spark.decisions import capture
from conversation_analysis_tools_spark.operators import dedup as D
from conversation_analysis_tools_spark.operators import similarity as S
from conversation_analysis_tools_spark.operators.components import (
    connected_components,
    unique_representatives,
)


def _gate(recs, gate):
    """The captured decision records of one gate, in call order."""
    return [r for r in recs if r["gate"] == gate]


def test_duplicate_pair_found(spark, sample_docs):
    # reference test_duplicate_detector.py:71-79: pair (0,5) detected
    pairs = S.duplicate_pairs(sample_docs, threshold=0.8).collect()
    assert any(r["id1"] == 0 and r["id2"] == 5 for r in pairs)
    exact = [r for r in pairs if r["id1"] == 0 and r["id2"] == 5][0]
    assert abs(exact["sim"] - 1.0) < 1e-9  # identical docs -> cosine 1


def test_disjoint_docs_not_paired(spark, sample_docs):
    # doc 4 shares no content words with doc 1 -> no pair at any threshold
    pairs = S.duplicate_pairs(sample_docs, threshold=0.01).collect()
    assert not any(
        (r["id1"] == 1 and r["id2"] == 4) or (r["id1"] == 4 and r["id2"] == 1)
        for r in pairs
    )


def test_connected_components_and_unique_docs(spark, sample_docs):
    pairs = S.duplicate_pairs(sample_docs, threshold=0.8)
    comp = connected_components(pairs.select("id1", "id2"))
    rows = {r["id"]: r["component"] for r in comp.collect()}
    assert rows[0] == 0 and rows[5] == 0  # cluster {0,5} labeled by min id
    uniq = unique_representatives(
        sample_docs.select(F.col("doc_id").alias("id")), comp
    )
    ids = sorted(r["id"] for r in uniq.collect())
    # representative 0 kept, duplicate 5 dropped
    assert ids == [0, 1, 2, 3, 4]


def test_minhash_finds_exact_duplicate(spark, sample_docs):
    pairs = D.minhash_dedup_pairs(sample_docs, threshold=0.5).collect()
    hit = [r for r in pairs if r["id1"] == 0 and r["id2"] == 5]
    assert hit and abs(hit[0]["jaccard"] - 1.0) < 1e-12


def test_simhash_exact_duplicate_zero_hamming(spark, sample_docs):
    sig = D.simhash(sample_docs)
    pairs = D.simhash_pairs(sig, max_hamming=3).collect()
    hit = [r for r in pairs if r["id1"] == 0 and r["id2"] == 5]
    assert hit and hit[0]["hamming"] == 0


def test_chained_components_transitivity(spark):
    # a-b and b-c similar, a-c not directly: single linkage joins all 3
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id1 long, id2 long")
    comp = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[7] == comp[8] == 7


def test_cosine_strategies_agree(spark, sample_docs):
    # the inverted-index and dense-matrix plans are different physical
    # strategies for the same operator -- results must match
    inv = {
        (r["id1"], r["id2"]): round(r["sim"], 9)
        for r in S.duplicate_pairs(sample_docs, 0.3, strategy="inverted").collect()
    }
    den = {
        (r["id1"], r["id2"]): round(r["sim"], 9)
        for r in S.duplicate_pairs(sample_docs, 0.3, strategy="dense").collect()
    }
    assert set(inv) == set(den)
    for k in inv:
        assert abs(inv[k] - den[k]) < 1e-9, k


def test_dense_cosine_multiblock_matches_inverted(spark, monkeypatch):
    """The dense plan split into B > 1 grid blocks (the global scan's
    off-diagonal cells included) equals the inverted-index plan."""
    import random

    rng = random.Random(13)
    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf"]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(words) for _ in range(6))) for i in range(40)],
        "doc_id long, text string",
    )

    def pairs(strategy):
        return {
            (r["id1"], r["id2"]): round(r["sim"], 9)
            for r in S.duplicate_pairs(
                docs, 0.5, strategy=strategy, collapse="never", route="exact"
            ).collect()
        }

    inv = pairs("inverted")
    monkeypatch.setattr(S, "DENSE_BLOCK_ROWS", 8)  # B = 5 blocks, 15 cells
    with capture() as recs:
        den = pairs("dense")
    assert _gate(recs, "pairwise_cosine")[0]["n_docs"] == 40
    assert inv and set(inv) == set(den)
    for k in inv:
        assert abs(inv[k] - den[k]) < 1e-9, k


def test_exact_dup_collapse_matches_direct(spark, sample_docs):
    """A dup-heavy corpus (every sample doc replicated 5x byte-exact)
    must trip the adaptive representative-collapse AND produce the
    identical pair set the direct plan yields -- within-group pairs at
    self-cosine, cross-group pairs inheriting the rep pair's score."""
    reps = (
        sample_docs.select(
            "doc_id", "text", F.explode(F.sequence(F.lit(0), F.lit(4))).alias("r")
        )
        .select(
            (F.col("doc_id") + F.col("r") * F.lit(100)).alias("doc_id"), "text"
        )
    )
    collapsed = {
        (r["id1"], r["id2"]): round(r["sim"], 9)
        for r in S.duplicate_pairs(reps, 0.3).collect()
    }
    # direct plan, forced by bypassing the probe: compute on the same
    # corpus through pairwise_cosine directly
    direct = {
        (r["id1"], r["id2"]): round(r["sim"], 9)
        for r in S.pairwise_cosine(S.tf_vectors(reps), threshold=0.3)
        .where(F.col("sim") >= 0.3 - S.THRESHOLD_EPS)
        .collect()
    }
    assert set(collapsed) == set(direct)
    for k in collapsed:
        assert abs(collapsed[k] - direct[k]) < 1e-6, k
    # replicas of the same doc pair at cosine ~1
    assert abs(collapsed[(0, 100)] - 1.0) < 1e-9


def test_cc_strategies_agree(spark):
    # the driver-side union-find and star contraction must produce
    # identical components
    edges = spark.createDataFrame(
        [(5, 9), (9, 2), (11, 12), (3, 4), (4, 2)], "id1 long, id2 long"
    )
    local = sorted(map(tuple, connected_components(edges, strategy="local").collect()))
    comp = dict(local)
    assert comp[5] == comp[9] == comp[2] == comp[3] == comp[4] == 2
    assert comp[11] == comp[12] == 11
    star = sorted(map(tuple, connected_components(edges, strategy="star").collect()))
    assert local == star


def test_cc_unknown_strategy_raises(spark):
    import pytest

    edges = spark.createDataFrame([(1, 2)], "id1 long, id2 long")
    for strategy in ("distributed", "min-label"):
        with pytest.raises(ValueError, match="unknown strategy"):
            connected_components(edges, strategy=strategy)


def test_cc_star_random_parity(spark):
    # seeded adversarial graphs: star contraction must match driver
    # union-find on every topology, incl. duplicate + reversed edges
    # and a hub with chains hanging off it
    import random

    rng = random.Random(20260816)
    graphs = []
    graphs.append([(rng.randrange(200), rng.randrange(200)) for _ in range(300)])
    dup = [(rng.randrange(40), rng.randrange(40)) for _ in range(60)]
    graphs.append(dup + [(b, a) for a, b in dup] + dup)  # dupes + reversals
    hub = [(500, 500 + i) for i in range(1, 20)]  # star around a hub
    for i in range(3):  # three 15-node chains hanging off hub leaves
        base = 600 + 100 * i
        hub += [(500 + i + 1, base)]
        hub += [(base + j, base + j + 1) for j in range(14)]
    graphs.append(hub)
    for edges in graphs:
        df = spark.createDataFrame(edges, "id1 long, id2 long")
        local = sorted(
            map(tuple, connected_components(df, strategy="local").collect())
        )
        star = sorted(
            map(tuple, connected_components(df, strategy="star").collect())
        )
        assert local == star, f"mismatch on {len(edges)}-edge graph"


def test_cc_star_high_diameter(spark):
    # a 200-node path has diameter 199: min-label propagation advances
    # the minimum ONE hop per round, so 12 rounds provably cannot
    # finish -- while large-star/small-star contraction must (its
    # round count is logarithmic in n, not linear in diameter)
    from pyspark.sql import functions as F

    path = spark.range(0, 199).select(
        F.col("id").alias("id1"), (F.col("id") + 1).alias("id2")
    )
    # generous cap so the ROUND COUNT assertion has teeth: with the
    # cap at 40, finishing within 12 rounds can only mean the
    # fingerprint fixpoint fired early (an O(diameter) loop would
    # run ~199 rounds and raise at the cap)
    with capture() as recs:
        star = connected_components(path, strategy="star", max_iter=40).collect()
    assert {r["component"] for r in star} == {0}
    assert len(star) == 200
    (cc,) = _gate(recs, "connected_components")
    assert cc["choice"] == "star"
    assert cc["star_rounds"] <= 12  # logarithmic, not O(diameter)


def test_cc_star_raises_at_cap(spark):
    # an impossible 1-round cap on a chained graph must raise loudly,
    # never return silently-split components
    import pytest

    from pyspark.sql import functions as F

    path = spark.range(0, 40).select(
        F.col("id").alias("id1"), (F.col("id") + 1).alias("id2")
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(path, strategy="star", max_iter=1)


def test_cc_star_string_ids_and_self_loops(spark):
    # string ids order lexically in both engines; self-loops must not
    # drop their node from the output
    edges = spark.createDataFrame(
        [("b", "c"), ("c", "a"), ("x", "x"), ("m", "n")],
        "id1 string, id2 string",
    )
    local = sorted(map(tuple, connected_components(edges, strategy="local").collect()))
    star = sorted(map(tuple, connected_components(edges, strategy="star").collect()))
    assert local == star
    comp = dict(star)
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == "x"
    assert comp["m"] == comp["n"] == "m"


def test_substring_span_stats_pinned(spark):
    # doc 1 and doc 2 share one exact 4-token span; doc 3 shares none;
    # doc 4 is too short for any span
    from conversation_analysis_tools_spark.operators.dedup import substring_span_stats

    docs = spark.createDataFrame(
        [
            (1, "alpha bravo charlie delta echo"),
            (2, "zulu alpha bravo charlie delta"),
            (3, "golf hotel india juliet kilo"),
            (4, "lima mike november"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in substring_span_stats(docs, width=4).collect()
    }
    # 5 tokens, width 4 -> 2 spans per full doc
    assert rows[1]["n_spans"] == 2 and rows[2]["n_spans"] == 2
    # "alpha bravo charlie delta" is the one shared span
    assert rows[1]["n_dup_spans"] == 1 and rows[2]["n_dup_spans"] == 1
    assert rows[1]["dup_fraction"] == 0.5
    assert rows[3]["n_dup_spans"] == 0
    assert 4 not in rows  # 3 tokens < width: no spans, absent


def test_substring_span_within_doc_repeat_counts_once(spark):
    # a span repeated twice WITHIN one doc but in no other doc is not
    # cross-document duplication
    from conversation_analysis_tools_spark.operators.dedup import substring_span_stats

    docs = spark.createDataFrame(
        [(1, "alpha bravo alpha bravo alpha bravo")],
        "doc_id long, text string",
    )
    rows = substring_span_stats(docs, width=2).collect()
    assert len(rows) == 1
    assert rows[0]["n_dup_spans"] == 0


def test_semdedup_keeps_farthest_from_centroid(spark):
    # Two well-separated clusters around (10,0) and (0,10); centroids
    # passed explicitly so the test pins the prune semantics, not
    # k-means. Within cluster 0: vectors 0/1 are near-identical
    # directions (cosine ~1), vector 2 is orthogonal-ish (kept alone).
    import numpy as np

    emb = spark.createDataFrame(
        [
            (0, [10.0, 0.0, 0.1]),   # cluster 0, near-dup with 1
            (1, [9.0, 0.0, 0.05]),   # closer to centroid -> dropped
            (2, [0.1, 0.2, 9.0]),    # cluster-0-assigned? no: near z-axis
            (10, [0.0, 10.0, 0.0]),  # cluster 1 singleton
            (11, [0.0, 9.5, 0.01]),  # cluster 1, near-dup with 10
        ],
        "vec_id long, embedding array<float>",
    )
    cents = np.array([[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0]])
    out = {
        r["vec_id"]: r
        for r in D.semdedup_prune(emb, cents, threshold=0.95).collect()
    }
    assert len(out) == 5
    # near-dup pair (0,1): one survivor, the farther-from-centroid one
    assert out[0]["component"] == 0 and out[1]["component"] == 0
    assert out[0]["keep"] != out[1]["keep"]
    d0, d1 = out[0]["centroid_dist"], out[1]["centroid_dist"]
    survivor = 0 if d0 > d1 else 1
    assert out[survivor]["keep"]
    # pair (10,11): exactly one survivor
    assert out[10]["keep"] != out[11]["keep"]
    # orthogonal vector 2: its own cluster, singleton, kept
    assert out[2]["keep"] and out[2]["centroid_id"] == 2
    # every component keeps exactly one member
    by_comp = {}
    for r in out.values():
        by_comp.setdefault((r["centroid_id"], r["component"]), []).append(r["keep"])
    for keeps in by_comp.values():
        assert sum(keeps) == 1


def test_cross_corpus_minhash_only_cross_pairs(spark):
    text_a = "the quick brown fox jumps over the lazy dog near the river bank today"
    text_b = "completely different content about spark distributed query processing engines"
    eval_df = spark.createDataFrame(
        [(100, text_a)], "doc_id long, text string"
    )
    train_df = spark.createDataFrame(
        [(1, text_a), (2, text_a), (3, text_b)], "doc_id long, text string"
    )
    pairs = D.cross_corpus_minhash_pairs(eval_df, train_df, threshold=0.5).collect()
    got = {(r["eval_id"], r["train_id"]) for r in pairs}
    # contaminated train docs 1 and 2 both flagged against eval 100
    assert got == {(100, 1), (100, 2)}
    # jaccard of identical shingle sets is exactly 1
    assert all(abs(r["jaccard"] - 1.0) < 1e-9 for r in pairs)


def test_edit_distance_exact_dup_sim_one(spark, sample_docs):
    # identical docs (0,5): levenshtein 0 -> edit_sim exactly 1.0
    pairs = D.edit_distance_pairs(sample_docs, threshold=0.5).collect()
    hit = [r for r in pairs if r["id1"] == 0 and r["id2"] == 5]
    assert hit and abs(hit[0]["edit_sim"] - 1.0) < 1e-12


def test_edit_distance_truncation_bounds_cost(spark):
    # two docs identical in the first max_chars but divergent after:
    # the capped comparison reports sim 1.0 (documented truncation).
    # Base has many distinct shingles so the short divergent tails keep
    # shingle-Jaccard high enough for LSH candidacy.
    words = ["".join(chr(ord("a") + d) for d in (i // 26 // 26, i // 26 % 26, i % 26)) for i in range(80)]
    base = " ".join(words) + " "
    df = spark.createDataFrame(
        [(1, base + "tail one"), (2, base + "completely different ending")],
        "doc_id long, text string",
    )
    pairs = D.edit_distance_pairs(df, threshold=0.9, max_chars=len(base)).collect()
    assert len(pairs) == 1 and abs(pairs[0]["edit_sim"] - 1.0) < 1e-12


def test_inverted_plan_has_no_per_doc_broadcast(spark, sample_docs):
    """Regression guard for the round-3 norms fix: the inverted-index
    cosine plan must never force-broadcast an O(n_docs) norms
    relation. The only acceptable BroadcastExchange is Catalyst's own
    size-estimate choice on the term join; a forced broadcast is
    recognizable by the norm expression (CASE WHEN sqrt(...)=0) living
    inside a BroadcastExchange subtree that aggregates per doc id.
    Cheapest robust check: the PRE-normalized plan carries the norm
    division on the join INPUTS, so no 'norm1'/'norm2' columns exist
    anywhere in the plan."""
    tf = S.tf_vectors(sample_docs)
    plan = S._pairwise_cosine_inverted(tf)._jdf.queryExecution().executedPlan().toString()
    assert "norm1" not in plan and "norm2" not in plan


def test_simhash_null_and_empty_text_pair_at_zero(spark):
    """NULL text gets signature 0 like empty text, so the two pair at
    hamming 0 through simhash_pairs."""
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "gradient descent converges slowly here")],
        "doc_id long, text string",
    )
    sig = D.simhash(docs)
    sigs = {r["doc_id"]: r["simhash"] for r in sig.collect()}
    assert sigs[1] == 0 and sigs[2] == 0 and sigs[3] != 0
    pairs = [tuple(r) for r in D.simhash_pairs(sig, max_hamming=3).collect()]
    assert (1, 2, 0) in pairs


def test_dedup_simhash_oracle_keeps_tokenless_docs(spark, tmp_path):
    """dedup_simhash's DuckDB oracle keeps every document: a NULL-text
    and an empty-text doc get signature 0 there as in Spark, so both
    engines pair them at hamming 0."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from conversation_analysis_tools_spark.queries.dedup import dedup_simhash
    from tests.conftest import SF_DIR

    docs = pq.read_table(f"{SF_DIR}/documents.parquet").slice(0, 30)
    tokenless = pa.table(
        {
            "doc_id": pa.array([10_001, 10_002], pa.int64()),
            "text": pa.array([None, ""], pa.string()),
        }
    )
    pq.write_table(
        pa.concat_tables([docs, tokenless], promote_options="default"),
        tmp_path / "documents.parquet",
    )
    got = sorted(map(tuple, dedup_simhash(spark, str(tmp_path)).collect()))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    want = sorted(con.execute(entry.oracle_sql()["dedup_simhash"]).fetchall())
    assert (10_001, 10_002, 0) in got
    assert got == want


def test_simhash_banding_is_exact_pigeonhole(spark):
    """The 15-bit-block candidate stage must be EXACT for hamming<=3:
    4 blocks, <=3 differing bits => at least one block identical, so
    every qualifying pair must surface. Cross-checked against a
    brute-force hamming over all signature pairs (perturbed near-dup
    corpus: replicas of each base text with 1-2 words changed)."""
    base = [
        "machine learning models train on large text corpora every day",
        "the quick brown fox jumps over the lazy dog near the river",
        "spark executes distributed dataframe plans with catalyst",
    ]
    rows = []
    i = 0
    for b, t in enumerate(base):
        for rep in range(4):
            words = t.split()
            if rep:
                words[rep] = f"tok{b}{rep}"
            rows.append((i, " ".join(words)))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    brute = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    banded = {
        (r["id1"], r["id2"])
        for r in D.simhash_pairs(D.simhash(docs), max_hamming=3).collect()
    }
    assert banded == brute
    assert brute, "corpus produced no near-dup pairs; test is vacuous"


def test_span_removal_cuts_shared_spans_only(spark):
    """Planted cross-doc 9-token phrase is fully removed from both
    carriers; a doc with no shared span is untouched (token-stream
    identity)."""
    shared = "alpha bravo charlie delta echo foxtrot golf hotel india"
    rows = [
        (1, f"unique opening words here {shared} and unique closing words there"),
        (2, f"different lead tokens now {shared} with other trailing content body"),
        (3, "completely independent document text with no overlap whatsoever present"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.remove_duplicate_spans(docs, width=8).collect()}

    for d in (1, 2):
        cleaned = out[d]["cleaned_text"]
        for w in shared.split():
            assert w not in cleaned.split(), (d, w, cleaned)
        assert out[d]["n_removed"] >= len(shared.split())
    # untouched doc: token stream identical to its own tokenization
    assert out[3]["n_removed"] == 0
    # cleaned text is the [a-z]{3,} token stream, not surface bytes
    expected = " ".join(w for w in rows[2][1].split() if len(w) >= 3)
    assert out[3]["cleaned_text"] == expected


def _replicate(sample_docs, k=5):
    """Every sample doc replicated k times byte-exact (ids spread by
    +100*r) -- the dup-dense corpus that must trip the
    identical-content representative-collapse."""
    return sample_docs.select(
        "doc_id", "text", F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("r")
    ).select((F.col("doc_id") + F.col("r") * F.lit(100)).alias("doc_id"), "text")


def test_minhash_collapse_matches_direct(spark, sample_docs):
    """minhash_dedup_pairs' representative-collapse must yield the
    identical (pair, jaccard) set as the direct bands-over-all-docs
    plan on a dup-heavy corpus."""
    reps = _replicate(sample_docs)
    collapsed = {
        (r["id1"], r["id2"]): round(r["jaccard"], 9)
        for r in D.minhash_dedup_pairs(reps, threshold=0.2).collect()
    }
    arrs = D.shingle_arrays(reps)
    direct_pairs = D.jaccard_verify(
        D.minhash_candidates(
            D.lsh_bands(D.minhash_signatures_from_arrays(arrs))
        ),
        arrs,
        0.2,
    )
    direct = {
        (r["id1"], r["id2"]): round(r["jaccard"], 9) for r in direct_pairs.collect()
    }
    assert set(collapsed) == set(direct)
    for k in collapsed:
        assert abs(collapsed[k] - direct[k]) < 1e-9, k
    # replicas pair at jaccard exactly 1
    assert collapsed[(0, 100)] == 1.0


def test_ngram_collapse_matches_direct(spark, sample_docs):
    """ngram_jaccard_pairs' collapse vs the direct inverted-index join."""
    reps = _replicate(sample_docs)
    collapsed = {
        (r["id1"], r["id2"]): round(r["jaccard"], 9)
        for r in D.ngram_jaccard_pairs(reps, threshold=0.15).collect()
    }
    # direct: inverted index over ALL docs (the pre-collapse plan)
    arrs = D.shingle_arrays(reps)
    sh = arrs.select("doc_id", F.explode("sh_arr").alias("shingle"))
    sizes = arrs.select("doc_id", F.size("sh_arr").alias("sz"))
    s1 = sh.select(F.col("doc_id").alias("id1"), "shingle")
    s2 = sh.select(F.col("doc_id").alias("id2"), "shingle")
    inter = (
        s1.join(s2, "shingle")
        .where(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("inter"))
    )
    z1 = sizes.select(F.col("doc_id").alias("id1"), F.col("sz").alias("sz1"))
    z2 = sizes.select(F.col("doc_id").alias("id2"), F.col("sz").alias("sz2"))
    direct_df = (
        inter.join(z1, "id1")
        .join(z2, "id2")
        .select(
            "id1",
            "id2",
            (F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter"))).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= 0.15)
    )
    direct = {(r["id1"], r["id2"]): round(r["jaccard"], 9) for r in direct_df.collect()}
    assert set(collapsed) == set(direct)
    for k in collapsed:
        assert abs(collapsed[k] - direct[k]) < 1e-9, k


def test_edit_distance_collapse_self_and_cross(spark, sample_docs):
    """edit_distance_pairs on the replicated corpus: within-group pairs
    score exactly 1.0; near-identical cross-group pairs inherit the rep
    pair's exact banded-Levenshtein similarity."""
    base = _replicate(sample_docs, k=3)
    # a case-variant of doc 0: identical lowercased token set (so LSH
    # candidacy with the doc-0 group is GUARANTEED -- identical
    # signatures share every band) but different bytes, hence a
    # distinct text group for the character-grain verify
    near = spark.createDataFrame(
        [(999, "MACHINE LEARNING is a subset of artificial intelligence.")],
        "doc_id long, text string",
    )
    docs = base.unionByName(near)
    pairs = {
        (r["id1"], r["id2"]): r["edit_sim"]
        for r in D.edit_distance_pairs(docs, threshold=0.7, max_chars=1000).collect()
    }
    assert pairs[(0, 100)] == 1.0 and pairs[(0, 200)] == 1.0
    # cross-group: every replica of doc 0 pairs with 999 at the SAME sim
    sims = {pairs.get((0, 999)), pairs.get((100, 999)), pairs.get((200, 999))}
    assert len(sims) == 1 and None not in sims
    (s,) = sims
    assert 0.7 <= s < 1.0


def test_duplicate_pairs_collapse_modes(spark, sample_docs):
    """collapse='always' and 'never' are output-identical (no probe
    job on either)."""
    reps = _replicate(sample_docs)
    always = {
        (r["id1"], r["id2"]): round(r["sim"], 9)
        for r in S.duplicate_pairs(reps, 0.3, collapse="always").collect()
    }
    never = {
        (r["id1"], r["id2"]): round(r["sim"], 9)
        for r in S.duplicate_pairs(reps, 0.3, collapse="never").collect()
    }
    assert set(always) == set(never) and always
    for k in always:
        assert abs(always[k] - never[k]) < 1e-6, k


def test_duplicate_pairs_rejects_bad_collapse(spark, sample_docs):
    import pytest

    with pytest.raises(ValueError):
        S.duplicate_pairs(sample_docs, 0.5, collapse="sometimes")


def test_edit_distance_threshold_boundary_with_pair_band(spark):
    """The per-pair Levenshtein band must be exact at the threshold
    boundary: a pair whose edit_sim is EXACTLY the threshold survives
    (its distance floor((1-t)*L) sits strictly inside the band
    floor((1-t)*L)+1), and one more edit is rejected via the banded
    -1, never by accidental band truncation of a qualifying pair.
    Texts share ~90% of their word shingles so LSH candidacy is not
    the discriminator."""
    words = [
        "".join(chr(ord("a") + d) for d in (i // 26 // 26, i // 26 % 26, i % 26))
        for i in range(75)
    ]
    base = " ".join(words)  # 'z' never appears: 75 words < 26*26
    L = len(base)
    k = int(0.1 * L)  # max edits still >= threshold 0.9
    at = base[: L - k] + "z" * k          # dist exactly k (subs only)
    over = base[: L - k - 1] + "z" * (k + 1)  # dist exactly k + 1
    df = spark.createDataFrame(
        [(1, base), (2, at), (3, over)], "doc_id long, text string"
    )
    got = {
        (r["id1"], r["id2"]): r["edit_sim"]
        for r in D.edit_distance_pairs(df, threshold=0.9).collect()
    }
    # (1,2) at the boundary: kept with sim == 1 - k/L exactly
    assert (1, 2) in got and abs(got[(1, 2)] - (1 - k / L)) < 1e-12
    # (1,3) one edit past the budget: rejected
    assert (1, 3) not in got
    # (2,3): single-substitution pair, trivially kept
    assert (2, 3) in got and got[(2, 3)] > 0.99


def test_minhash_cluster_members_rep_grain_parity(spark):
    """minhash_cluster_members must equal connected_components over
    the expanded minhash_dedup_pairs output -- for both the engaged
    (rep-grain CC + fingerprint inheritance) and direct plans -- on a
    corpus covering every membership shape: an isolated multi-member
    identical-set clique (no cross edges), two clusters bridged by a
    verified rep pair, a singleton with a cross pair, a singleton
    without one, and a shingle-less doc (never clustered)."""
    from conversation_analysis_tools_spark.operators import components as C

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    cross = base.rsplit(" ", 1)[0] + " mike"
    iso = "zulu yankee xray whiskey victor uniform"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + "!!"),          # set-identical to 1
            (3, base.replace(" ", "  ")),
            (4, cross),                # bridges into cluster {1,2,3}
            (5, iso),
            (6, iso + "..."),          # isolated 2-clique, no cross edge
            (7, "nov oscar papa quebec romeo sierra"),  # singleton
            (8, "xy"),                 # no trigrams at all
        ],
        "doc_id long, text string",
    )
    want = None
    for mode in ("always", "never"):
        got = sorted(
            (r["id"], r["component"])
            for r in D.minhash_cluster_members(
                docs, threshold=0.4, collapse=mode
            ).collect()
        )
        exp = sorted(
            (r["id"], r["component"])
            for r in C.connected_components(
                D.minhash_dedup_pairs(docs, threshold=0.4, collapse=mode).select(
                    "id1", "id2"
                )
            ).collect()
        )
        assert got == exp, mode
        want = want or got
        assert got == want  # both modes agree with each other too
    assert (1, 1) in want and (4, 1) in want and (6, 5) in want
    assert all(i != 7 and i != 8 for i, _ in want)


def test_edit_distance_pure_insertion_boundary(spark):
    """Length-gap prefilter must be integer-exact: a boundary pair
    whose edits are PURE INSERTIONS has dist == |len1-len2| == the
    exact budget (lengths 45 vs 50 at t=0.9 -> dist 5, sim 0.9), and
    qualifies downstream (1 - 5/50 >= 0.9 in doubles), but Python's
    float (1-0.9) rounds DOWN so `lendiff <= (1-t)*maxlen` evaluates
    5 <= 4.999... and silently drops it. The prefilter must compare
    against the integer pair_bound = floor((1-t)*maxlen)+1 instead."""
    words = ["aaa", "bbb", "ccc", "ddd", "eee", "fff", "ggg", "hhh", "iii", "jjj"]
    base = " ".join(words) + " kkkkk"  # 10*3 + 10 spaces + 5 = 45 chars
    assert len(base) == 45
    ext = base + "zzzzz"  # 5 trailing inserts: dist == lendiff == 5
    df = spark.createDataFrame(
        [(1, base), (2, ext)], "doc_id long, text string"
    )
    got = {
        (r["id1"], r["id2"]): r["edit_sim"]
        for r in D.edit_distance_pairs(df, threshold=0.9).collect()
    }
    assert (1, 2) in got and abs(got[(1, 2)] - 0.9) < 1e-12


def test_dedup_collapse_modes_and_density_probe(spark, sample_docs):
    """The dedup-family collapse gate: 'always' and 'never' are
    output-identical (the adaptive probe may only ever pick between
    these two), the shared density probe fires True on the replicated
    corpus and False on the 6-doc sample (1 dup pair < the 16-dup
    floor), and a bad mode raises."""
    import pytest

    from conversation_analysis_tools_spark.operators.density import (
        dup_density_decision,
    )

    reps = _replicate(sample_docs)
    assert dup_density_decision(reps) is True
    assert dup_density_decision(sample_docs) is False
    for fn, kw in (
        (D.minhash_dedup_pairs, dict(threshold=0.2)),
        (D.ngram_jaccard_pairs, dict(threshold=0.15)),
        (D.edit_distance_pairs, dict(threshold=0.7)),
    ):
        val = "edit_sim" if fn is D.edit_distance_pairs else "jaccard"
        always = {
            (r["id1"], r["id2"]): round(r[val], 9)
            for r in fn(reps, collapse="always", **kw).collect()
        }
        never = {
            (r["id1"], r["id2"]): round(r[val], 9)
            for r in fn(reps, collapse="never", **kw).collect()
        }
        assert set(always) == set(never) and always, fn.__name__
        for key in always:
            assert abs(always[key] - never[key]) < 1e-9, (fn.__name__, key)
        with pytest.raises(ValueError):
            fn(sample_docs, collapse="sometimes", **kw)


def test_density_probe_memo_file_backed(spark, sample_docs, tmp_path, monkeypatch):
    """File-backed density decisions are content-keyed and
    disk-persisted: a cold cache serves the stored decision without
    running the probe job, and regenerating the files (same path,
    different content) invalidates the key instead of serving stale."""
    from pyspark.sql import DataFrame

    from conversation_analysis_tools_spark.operators import density

    monkeypatch.setenv("SPARK_GRAFT_FITCACHE_DIR", str(tmp_path / "fc"))
    p = str(tmp_path / "docs.parquet")
    sample_docs.write.mode("overwrite").parquet(p)

    def probed():
        return spark.read.parquet(p)

    density._DECISION_CACHE.clear()
    assert density.dup_density_decision(probed()) is False

    # cold process simulation: process memo emptied, probe forbidden
    density._DECISION_CACHE.clear()
    real_agg = DataFrame.agg

    def _boom(self, *a, **k):  # pragma: no cover - must not be reached
        raise AssertionError("probe job ran despite disk-cached decision")

    monkeypatch.setattr(DataFrame, "agg", _boom)
    assert density.dup_density_decision(probed()) is False
    monkeypatch.setattr(DataFrame, "agg", real_agg)

    # regenerate the SAME path with a dup-heavy corpus: the leaf-file
    # fingerprint changes, so the stale False must not be served
    import time as _t

    _t.sleep(0.05)  # distinct mtime_ns even on coarse filesystems
    reps = _replicate(sample_docs)
    reps.write.mode("overwrite").parquet(p)
    density._DECISION_CACHE.clear()
    assert density.dup_density_decision(probed()) is True


def test_collapse_parity_randomized_token_invisible_drift(spark):
    """Randomized 'always' == 'never' parity on the regime the
    candidate-grain collapse exploits: groups whose members share one
    token stream but differ in BYTES (case flips, punctuation, extra
    whitespace -- invisible to the [a-z]{3,} tokenizer). Set-grain
    verifies must expand member pairs with the rep score; the
    character-grain edit-distance verify must still run per member
    pair (within-group sims < 1 and member-dependent), which only
    holds if _expand_candidate_pairs reproduces the direct plan's
    candidate set exactly."""
    import random

    rng = random.Random(41)
    vocab = [f"word{chr(97 + i)}{chr(97 + j)}" for i in range(5) for j in range(4)]
    rows, did = [], 0

    def decorate(words, j):
        # j=0: pristine. j>0: token-invisible byte drift.
        out = []
        for k, w in enumerate(words):
            if j and k % (j + 1) == 0:
                w = w.capitalize() if j % 2 else w + ","
            out.append(w)
        return (" " * (1 + j % 3)).join(out) + ("!!" if j % 2 else "")

    for _g in range(6):  # 6 groups x 4 members: set-identical clusters
        words = [rng.choice(vocab) for _ in range(rng.randint(8, 16))]
        for j in range(4):
            rows.append((did, decorate(words, j)))
            did += 1
    base = [rng.choice(vocab) for _ in range(10)]
    for _ in range(4):  # one byte-exact cluster
        rows.append((did, " ".join(base)))
        did += 1
    for _ in range(20):  # unique noise docs
        rows.append((did, " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 20)))))
        did += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for fn, kw, val in (
        (D.minhash_dedup_pairs, dict(threshold=0.2), "jaccard"),
        (D.ngram_jaccard_pairs, dict(threshold=0.15), "jaccard"),
        (D.edit_distance_pairs, dict(threshold=0.7), "edit_sim"),
    ):
        always = {
            (r["id1"], r["id2"]): round(r[val], 9)
            for r in fn(df, collapse="always", **kw).collect()
        }
        never = {
            (r["id1"], r["id2"]): round(r[val], 9)
            for r in fn(df, collapse="never", **kw).collect()
        }
        assert set(always) == set(never) and always, fn.__name__
        for key in always:
            assert abs(always[key] - never[key]) < 1e-9, (fn.__name__, key)
    # the edit-distance within-group sims must reflect the BYTE drift
    # (not a collapsed self-score): pristine vs drifted members < 1
    ed = {
        (r["id1"], r["id2"]): r["edit_sim"]
        for r in D.edit_distance_pairs(df, threshold=0.7, collapse="always").collect()
    }
    assert any(0.7 <= v < 0.999999 for v in ed.values())


def test_affix_stripped_levenshtein_identity(spark):
    """affix_stripped_levenshtein must equal the plain banded
    levenshtein on EVERY pair shape the strip could plausibly break:
    periodic strings (overlap-prone affixes), prefix-only / suffix-only
    sharing, fully identical strings shorter than the largest probe
    rung, strings shorter than the smallest rung, empty strings,
    multibyte chars (substring/length are char-grain), and pairs whose
    verified prefix+suffix overlap (near-equal strings). Also pins the
    banded -1 behavior: a pair past the bound returns -1 through the
    stripped path too."""
    import itertools

    strs = [
        "",
        "a",
        "ab" * 64,                      # periodic, 128 chars
        "ab" * 64 + "ab",               # periodic + one period
        "ab" * 64 + "x" + "ab" * 64,    # periodic around a core
        "x" * 300 + " mid " + "y" * 300,
        "x" * 300 + " mud " + "y" * 300,
        "p" * 150 + " tail one two three",
        "p" * 150 + " tail one two four!",
        "alpha beta " + "z" * 200,
        "alphx beta " + "z" * 200,
        "v1 " + "common words here " * 20,
        "v2 " + "common words here " * 20,
        "héllo wörld " * 30,            # multibyte
        "héllo wörld " * 30 + "ü",
        "completely different content with no overlap at all",
    ]
    pairs = [
        (i, a, b)
        for i, (a, b) in enumerate(itertools.combinations(strs, 2))
    ] + [(900 + i, s, s) for i, s in enumerate(strs)]  # identical pairs
    df = spark.createDataFrame(pairs, "pid long, t1 string, t2 string")
    for bound in (F.lit(2_000_000_000), F.lit(5).cast("int")):
        got = df.select(
            "pid",
            D.affix_stripped_levenshtein(
                F.col("t1"), F.col("t2"), bound.cast("int")
            ).alias("stripped"),
            F.call_function(
                "levenshtein", F.col("t1"), F.col("t2"), bound.cast("int")
            ).alias("plain"),
        ).collect()
        bad = [(r["pid"], r["stripped"], r["plain"]) for r in got if r["stripped"] != r["plain"]]
        assert not bad, bad


def test_grouped_grid_pairs_matches_reference(spark):
    """grouped_grid_pairs (the per-group BLAS stage behind SemDeDup's
    dense path) vs a numpy all-pairs reference: same pairs, same sims,
    zero-norm vectors sim-0 against everything."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for g in range(3):
        for i in range(20):
            rows.append((g, g * 100 + i, [float(x) for x in rng.normal(size=8)]))
    rows.append((1, 199, [0.0] * 8))  # zero vector: sim 0 to all
    df = spark.createDataFrame(rows, "grp int, vec_id long, embedding array<double>")
    thr = 0.3
    got = {
        (r["id1"], r["id2"]): r["sim"]
        for r in S.grouped_grid_pairs(df, "grp", thr).collect()
    }
    want = {}
    by_g = {}
    for g, vid, v in rows:
        by_g.setdefault(g, []).append((vid, np.array(v)))
    for g, members in by_g.items():
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                (ia, va), (ib, vb) = members[i], members[j]
                na, nb = np.linalg.norm(va), np.linalg.norm(vb)
                sim = 0.0 if na == 0 or nb == 0 else float(
                    (va / na) @ (vb / nb)
                )
                if sim >= thr - 1e-9:
                    want[(min(ia, ib), max(ia, ib))] = sim
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])


def test_grouped_grid_pairs_multiblock_parity(spark, monkeypatch):
    """A skewed group larger than DENSE_BLOCK_ROWS splits into grid
    cells; the gridded result must equal the single-block one."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [
        (i % 2, i, [float(x) for x in rng.normal(size=6)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "grp int, vec_id long, embedding array<double>")
    one = sorted(
        (r["id1"], r["id2"], round(r["sim"], 9))
        for r in S.grouped_grid_pairs(df, "grp", 0.2).collect()
    )
    monkeypatch.setattr(S, "DENSE_BLOCK_ROWS", 4)  # force B(B+1)/2 cells
    grid = sorted(
        (r["id1"], r["id2"], round(r["sim"], 9))
        for r in S.grouped_grid_pairs(df, "grp", 0.2).collect()
    )
    assert one == grid


def test_semdedup_dense_path_parity(spark):
    """The >2048-vector dense path (BLAS assignment + grouped grid)
    must produce the same components and keep decisions as the
    pure-expression plan on the same corpus and centroids."""
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.normal(size=(6, 12))
    rows = []
    for i in range(120):
        v = base[i % 6] + rng.normal(scale=0.05, size=12)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from conversation_analysis_tools_spark.operators.ann import kmeans_centroids

    cents = kmeans_centroids(emb, n_centroids=6)
    cols = ["vec_id", "centroid_id", "component", "keep"]
    expr_plan = sorted(
        tuple(r[c] for c in cols)
        for r in D.semdedup_prune(emb, cents, threshold=0.8, dense_path=False).collect()
    )
    dense_plan = sorted(
        tuple(r[c] for c in cols)
        for r in D.semdedup_prune(emb, cents, threshold=0.8, dense_path=True).collect()
    )
    assert expr_plan == dense_plan


def test_vectorized_assign_and_dense_semdedup_null_rows(spark):
    """NULL embeddings must propagate (null centroid_id, kept
    singleton) through the vectorized paths instead of crashing the
    Arrow batch -- mirroring the expression path's null semantics."""
    import numpy as np

    from conversation_analysis_tools_spark.operators.ann import ivf_assign

    cents = np.array([[10.0, 0.0], [0.0, 20.0]])
    rows = [(0, [11.0, 0.0]), (1, [12.0, 0.0]), (2, [0.0, 21.0]), (3, None)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["centroid_id"] for r in ivf_assign(
        emb, cents, vectorized=True
    ).collect()}
    assert got == {0: 0, 1: 0, 2: 1, 3: None}

    out = {r["vec_id"]: (r["centroid_id"], r["keep"]) for r in D.semdedup_prune(
        emb, cents, threshold=0.4, dense_path=True
    ).collect()}
    assert len(out) == 4
    assert out[3][0] is None and out[3][1] is True  # null row: kept singleton
    assert out[0][0] == 0 and out[2][0] == 1


def test_ivf_assign_vectorized_matches_expression(spark):
    """The vectorized (numpy) and expression assignments pick the same
    centroid on a seeded corpus without near-ties, NULL rows included."""
    import numpy as np

    from conversation_analysis_tools_spark.operators.ann import ivf_assign

    rng = np.random.default_rng(17)
    cents = rng.normal(size=(7, 8))
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(300)]
    rows.append((300, None))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    d = np.array([[np.sum((np.array(v) - c) ** 2) for c in cents] for _, v in rows[:-1]])
    top2 = np.sort(d, axis=1)[:, :2]
    assert (top2[:, 1] - top2[:, 0]).min() > 1e-6  # tie-free
    expr = {r["vec_id"]: r["centroid_id"] for r in ivf_assign(emb, cents).collect()}
    vec = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign(emb, cents, vectorized=True).collect()
    }
    assert expr == vec
    assert vec[300] is None


def test_embedding_dup_pairs_unblocked_matches_reference(spark, monkeypatch):
    """Without a blocking key embedding_dup_pairs runs the global grid
    scan; over several grid blocks it equals a numpy all-pairs cosine
    (a zero vector pairs with nothing)."""
    import numpy as np

    rng = np.random.default_rng(19)
    vecs = [rng.normal(size=5) for _ in range(30)] + [np.zeros(5)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    monkeypatch.setattr(S, "DENSE_BLOCK_ROWS", 7)
    got = {
        (r["id1"], r["id2"]): r["sim"]
        for r in D.embedding_dup_pairs(df, 0.4, block_col=None).collect()
    }
    want = {}
    for i in range(len(vecs)):
        for j in range(i + 1, len(vecs)):
            na, nb = np.linalg.norm(vecs[i]), np.linalg.norm(vecs[j])
            sim = 0.0 if na == 0 or nb == 0 else float(vecs[i] @ vecs[j] / (na * nb))
            if sim >= 0.4 - 1e-9:
                want[(i, j)] = sim
    assert want and set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, k


def test_grouped_grid_pairs_string_group_key(spark):
    """Non-integral group keys must round-trip through the BLAS stage
    (the schema follows the input group column's type)."""
    rows = [
        ("en", 1, [1.0, 0.0]), ("en", 2, [2.0, 0.0]),
        ("de", 3, [0.0, 1.0]), ("de", 4, [0.0, 3.0]),
        (None, 5, [1.0, 1.0]),  # null group: no pairs
    ]
    df = spark.createDataFrame(rows, "lang string, vec_id long, embedding array<double>")
    got = sorted(
        (r["lang"], r["id1"], r["id2"])
        for r in S.grouped_grid_pairs(df, "lang", 0.5).collect()
    )
    assert got == [("de", 3, 4), ("en", 1, 2)]


def test_semdedup_dense_collapse_parity_dup_heavy(spark):
    """The dense path's identical-embedding collapse (rep-grain
    CC + linear expansion) vs the expression plan on a corpus of
    exact-duplicate cliques plus near-dups and a null row: identical
    components, identical keeps."""
    import numpy as np

    rng = np.random.default_rng(5)
    base = rng.normal(size=(8, 10))
    rows = []
    i = 0
    for b in range(8):
        for copy in range(12):           # 12 byte-identical copies each
            rows.append((i, [float(x) for x in base[b]])); i += 1
        v = base[b] + rng.normal(scale=0.01, size=10)   # one near-dup
        rows.append((i, [float(x) for x in v])); i += 1
    rows.append((i, None)); i += 1       # null embedding row
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from conversation_analysis_tools_spark.operators.ann import kmeans_centroids

    cents = kmeans_centroids(emb.where("embedding is not null"), n_centroids=4)
    cols = ["vec_id", "centroid_id", "component", "keep"]
    expr_plan = sorted(
        tuple(r[c] for c in cols)
        for r in D.semdedup_prune(emb, cents, threshold=0.9, dense_path=False).collect()
    )
    dense_plan = sorted(
        tuple(r[c] for c in cols)
        for r in D.semdedup_prune(emb, cents, threshold=0.9, dense_path=True).collect()
    )
    assert expr_plan == dense_plan


# ---------------------------------------------------------------------------
# ngram-Jaccard saturation router (route='auto' cost probe)
# ---------------------------------------------------------------------------


def _pair_set(df):
    return {(r["id1"], r["id2"], round(r["jaccard"], 9)) for r in df.collect()}


def test_jaccard_route_auto_budget_decision(spark, sample_docs):
    """budget 0 routes every corpus to the LSH path, an ample budget
    keeps the exact inverted index; outputs agree here either way."""
    with capture() as recs:
        routed = D.ngram_jaccard_pairs(
            sample_docs, threshold=0.15, route="auto", route_budget=0
        )
    assert [r["choice"] for r in _gate(recs, "ngram_jaccard_pairs")] == ["minhash"]
    routed_pairs = _pair_set(routed)
    with capture() as recs:
        exact = D.ngram_jaccard_pairs(
            sample_docs, threshold=0.15, route="auto", route_budget=10**9
        )
    assert [r["choice"] for r in _gate(recs, "ngram_jaccard_pairs")] == ["exact"]
    assert routed_pairs == _pair_set(exact)


def test_jaccard_route_rejects_bad_mode(spark, sample_docs):
    import pytest

    with pytest.raises(ValueError, match="route must be"):
        D.ngram_jaccard_pairs(sample_docs, route="fastest")


def test_tuned_lsh_matches_exact_at_low_threshold(spark):
    """The routed plan's raison d'etre: at threshold 0.15 the fixed
    16/4 banding has ~zero recall while the threshold-tuned banding
    (b solved from t and the 0.98 recall target) recovers the exact
    pair set on a planted near-dup corpus."""
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa"
    )
    words = base.split()
    fill = [
        "quebec romeo sierra tango uniform victor whiskey xray yankee zulu",
        "one two three four five six seven eight nine ten",
        "red orange yellow green blue indigo violet black white gray",
    ]
    rows = []
    for i in range(30):
        rows.append((i, fill[i % 3] + f" filler{i} pad{i} distinct{i} tail{i}"))
    # planted near-dups: keep the first 6 words of base (4 shared
    # trigrams), replace the rest -> J in the 0.15-0.35 region
    rows.append((100, base))
    rows.append((101, " ".join(words[:8]) + " " + fill[0]))
    rows.append((102, " ".join(words[:7]) + " " + fill[1]))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = _pair_set(D.ngram_jaccard_pairs(docs, threshold=0.15, route="exact"))
    assert any(i >= 100 and j >= 100 for i, j, _ in exact)  # corpus plants pairs
    routed = _pair_set(D.ngram_jaccard_pairs(docs, threshold=0.15, route="minhash"))
    assert routed == exact


def test_tuned_lsh_band_solver_values(spark):
    """Pin the threshold->bands solve (b = ceil(ln(1-R)/ln(1-t^2)),
    clamped to [4, 256]) at representative thresholds. A silent
    solver regression (e.g. falling back to the fixed 16-hash
    banding) is exactly the zero-recall failure the router exists to
    avoid, so the solved values are worth a literal guard."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "alpha bravo charlie delta echo")], "doc_id long, text string"
    )
    arrs = D.shingle_arrays(docs)
    for t, want_b in ((0.15, 172), (0.3, 42), (0.4, 23), (0.7, 6), (0.9, 4)):
        with capture() as recs:
            D.tuned_lsh_pairs(arrs, t)
        (rec,) = _gate(recs, "tuned_lsh_pairs")
        assert (rec["choice"], rec["hashes"]) == (want_b, 2 * want_b), t
    with pytest.raises(ValueError, match="threshold"):
        D.tuned_lsh_pairs(arrs, 1.0)


def test_tuned_lsh_seeded_random_parity(spark):
    """Seeded random corpora: the routed plan must find every pair
    the exact plan scores WELL above threshold (J >= 0.5 at t=0.3:
    per-pair miss probability < 1e-4 under the solved banding, and
    md5 determinism makes the outcome fixed for these seeds), with
    zero extras and value-exact Jaccard on everything it emits."""
    import random

    rng = random.Random(20260816)
    vocab = [f"w{i:03d}" for i in range(120)]
    for trial in range(3):
        rows = []
        for i in range(40):
            rows.append((i, " ".join(rng.choices(vocab, k=rng.randint(8, 20)))))
        # planted near-dups: copy with a small suffix perturbation
        for j, src in enumerate(rng.sample(range(40), 5)):
            rows.append((100 + j, rows[src][1] + f" tail{j} extra{j}"))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        exact = {
            (r["id1"], r["id2"]): round(r["jaccard"], 9)
            for r in D.ngram_jaccard_pairs(docs, 0.3, route="exact").collect()
        }
        routed = {
            (r["id1"], r["id2"]): round(r["jaccard"], 9)
            for r in D.ngram_jaccard_pairs(docs, 0.3, route="minhash").collect()
        }
        extras = set(routed) - set(exact)
        assert not extras, (trial, extras)
        for k, v in routed.items():
            assert exact[k] == v, (trial, k)
        strong = {k for k, v in exact.items() if v >= 0.5}
        missed_strong = strong - set(routed)
        assert not missed_strong, (trial, missed_strong)


def test_tuned_lsh_overcap_bucket_star_degrades_not_drops(spark):
    """ADVICE r8 (medium): over-cap buckets used to be dropped
    wholesale, losing near-threshold pairs exactly on the saturated
    corpora that trigger routing. They now degrade to STAR pairs
    around the bucket min: with max_bucket=2 and four docs sharing
    10 of 11 trigrams (every shared bucket holds all four), every
    (min, x) pair must still surface with its exact Jaccard."""
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima"
    )
    tails = {1: "taila", 2: "tailb", 3: "tailc", 4: "taild"}
    docs = spark.createDataFrame(
        [(i, f"{base} {tails[i]}") for i in (1, 2, 3, 4)],
        "doc_id long, text string",
    )
    arrs = D.shingle_arrays(docs)
    got = {
        (r["id1"], r["id2"]): round(r["jaccard"], 9)
        for r in D.tuned_lsh_pairs(arrs, 0.5, max_bucket=2).collect()
    }
    # doc 1 is the min of every bucket it lands in (sorted ids), so
    # star arms guarantee its pairs; J = 10 shared / 12 union
    want = round(10.0 / 12.0, 9)
    for other in (2, 3, 4):
        assert got.get((1, other)) == want, got


def test_jaccard_route_record(spark, sample_docs):
    """The captured route record carries the request, the decision
    and the probe's measured volume; the routed path adds its band
    solve as a tuned_lsh_pairs record."""
    with capture() as recs:
        D.ngram_jaccard_pairs(
            sample_docs, threshold=0.15, route="auto", route_budget=0,
        )
    (info,) = _gate(recs, "ngram_jaccard_pairs")
    assert info["requested"] == "auto" and info["choice"] == "minhash"
    assert info["probe_rows"] is not None and info["probe_rows"] > 0
    assert info["route_budget"] == 0
    (bands,) = _gate(recs, "tuned_lsh_pairs")
    assert (bands["choice"], bands["hashes"]) == (172, 344)
    with capture() as recs:
        D.ngram_jaccard_pairs(sample_docs, threshold=0.15, route="exact")
    (info2,) = _gate(recs, "ngram_jaccard_pairs")
    assert info2["choice"] == "exact" and info2["probe_rows"] is None
    assert not _gate(recs, "tuned_lsh_pairs")


def test_recall_grid_routed_matches_exact(spark):
    """The near-threshold grid certificate's ground truth, pinned
    against the EXACT plan (the driver oracle pins literals; this
    anchors the literals to the exact operator so both drifting
    together still fails): routed recall 6/6 on J in (t, t+0.05],
    both sub-threshold controls excluded, values analytic n/(n+s)."""
    from conversation_analysis_tools_spark.queries.dedup import (
        _RG_CONTROLS,
        _RG_GRID,
        _recall_grid_rows,
    )

    docs = spark.createDataFrame(
        _recall_grid_rows(), "doc_id long, text string"
    )
    exact = _pair_set(D.ngram_jaccard_pairs(docs, 0.3, route="exact"))
    routed = _pair_set(
        D.ngram_jaccard_pairs(docs, 0.3, route="auto", route_budget=0)
    )
    assert routed == exact and len(exact) == len(_RG_GRID)
    n = 31.0
    want = {round(n / (n + s), 9) for s in _RG_GRID}
    assert {round(j, 9) for _, _, j in exact} == want
    # controls sit below threshold: no doc id from the control block
    control_ids = set(range(2 * len(_RG_GRID) + 1, 2 * len(_RG_GRID) + 5))
    assert not {i for i, j, _ in exact} & control_ids


def test_cosine_route_matches_exact_on_planted(spark):
    """duplicate_pairs' round-9 saturation route (tuned simhash-LSH +
    exact verify) must recover the exact pair set with exact sims on
    the certificate corpus, exclude the sub-threshold control, and
    record its decision."""
    from conversation_analysis_tools_spark.queries.nlp import _routed_cos_rows

    docs = spark.createDataFrame(_routed_cos_rows(), "doc_id long, text string")
    exact = {
        (r["id1"], r["id2"]): round(r["sim"], 9)
        for r in S.duplicate_pairs(docs, 0.9).collect()
    }
    with capture() as recs:
        routed = {
            (r["id1"], r["id2"]): round(r["sim"], 9)
            for r in S.duplicate_pairs(
                docs, 0.9, route="auto", route_budget=0
            ).collect()
        }
    assert routed == exact and len(exact) == 2
    (info,) = _gate(recs, "duplicate_pairs")
    assert info["choice"] == "simhash" and info["probe_rows"] > 0
    assert (5, 6) not in routed  # 26/30 control: verify excludes it
    # ample budget keeps the exact plan and says so
    with capture() as recs:
        S.duplicate_pairs(docs, 0.9, route="auto", route_budget=10**9)
    (info2,) = _gate(recs, "duplicate_pairs")
    assert info2["choice"] == "exact" and info2["requested"] == "auto"
    import pytest

    with pytest.raises(ValueError, match="route must be"):
        S.duplicate_pairs(docs, 0.9, route="fastest")


def test_cosine_route_dense_escape(spark):
    """A small shared vocabulary saturates the inverted-index volume
    metric long before the dense BLAS plan is in trouble: the auto
    probe must route on the DENSE plan's pair count in that regime
    (round 10 -- the sf0.1 saturated corpus went 2.8s -> 17s when the
    index metric alone routed it to simhash)."""
    rows = []
    vocab = [f"w{chr(97 + i)}den" for i in range(20)]
    for i in range(60):
        rows.append((i, " ".join(vocab[(i + k) % 20] for k in range(10))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # inverted volume: 20 terms x C(30,2)-ish ~ 8.7k rows; dense pairs
    # C(60,2) = 1770. A budget between the two must stay EXACT now.
    with capture() as recs:
        pairs = {
            (r["id1"], r["id2"])
            for r in S.duplicate_pairs(
                docs, 0.9, route="auto", route_budget=3000, collapse="never",
            ).collect()
        }
    (info,) = _gate(recs, "duplicate_pairs")
    assert info["choice"] == "exact" and info["dense_feasible"] is True
    # pair-count metric from the HLL doc count (~2% rsd): far below
    # the 8.7k inverted volume, in the right ballpark of C(60,2)
    assert 1500 <= info["probe_rows"] <= 2500
    # and the dense exact output matches the pinned-exact plan
    exact = {
        (r["id1"], r["id2"])
        for r in S.duplicate_pairs(
            docs, 0.9, route="exact", collapse="never"
        ).collect()
    }
    assert pairs == exact
    # a tiny explicit budget still forces the routed plan (the
    # certificates' budget-0/1 trick survives the 256x dense scaling)
    with capture() as recs:
        S.duplicate_pairs(
            docs, 0.9, route="auto", route_budget=1, collapse="never",
        )
    (info2,) = _gate(recs, "duplicate_pairs")
    assert info2["choice"] == "simhash" and info2["dense_feasible"] is True


def test_cosine_route_strategy_pins_metric(spark):
    """ADVICE r10: the probe must score the plan that will actually
    RUN. With strategy='inverted' pinned by the caller, a small shared
    vocabulary must be scored on the inverted-index volume (the plan
    execution takes), not the cheap dense pair count with its 256x
    budget -- otherwise the router declares 'exact' and runs the
    saturated inverted plan it would have rejected."""
    rows = []
    vocab = [f"w{chr(97 + i)}pin" for i in range(20)]
    for i in range(60):
        rows.append((i, " ".join(vocab[(i + k) % 20] for k in range(10))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # budget between dense pairs (~1.8k) and inverted volume (~8.7k):
    # auto strategy stays exact (dense metric), pinned inverted routes
    with capture() as recs:
        S.duplicate_pairs(
            docs, 0.9, route="auto", route_budget=3000,
            collapse="never", strategy="inverted",
        )
    (info,) = _gate(recs, "duplicate_pairs")
    assert info["choice"] == "simhash" and info["dense_feasible"] is False
    assert info["probe_rows"] > 3000  # scored on the inverted volume


def test_solve_simhash_bands_cand_budget():
    """The walk-back's candidate budget is a parameter (round 11, so
    the driver certificate can force it): budget=0 on any n>1 corpus
    reproduces the production large-n decision exactly, a huge budget
    disables the walk-back, and the default equals SIMHASH_CAND_BUDGET
    behavior."""
    # budget=0 with tiny n == default budget with n=500k: same decision
    assert (
        S.solve_simhash_bands(0.8, n_docs=9, cand_budget=0)
        == S.solve_simhash_bands(0.8, n_docs=500_000)
    )
    # a huge budget disables the walk-back even at large n
    assert S.solve_simhash_bands(
        0.8, n_docs=500_000, cand_budget=10**15
    )[:2] == (16, 152)
    # default budget: walk-back engages between 200k and 500k at t=0.8
    assert S.solve_simhash_bands(0.8, n_docs=200_000)[:2] == (16, 152)
    assert S.solve_simhash_bands(0.8, n_docs=500_000)[:2] == (20, 256)


def test_solve_simhash_bands_ladder():
    """The adaptive banding solve: t=0.9 stays on the r9-certified
    (20, 85); t=0.8 (the reference's default threshold) now fits the
    256-band budget at r=16 and MEETS the 0.98 target instead of
    clamping to ~0.93; only t<=0.6 still clamps, and then the
    estimate reports the (slight) degradation instead of hiding it."""
    assert S.solve_simhash_bands(0.9)[:2] == (20, 85)
    r, b, est = S.solve_simhash_bands(0.8)
    assert (r, b) == (16, 152) and est >= 0.98
    r, b, est = S.solve_simhash_bands(0.7)
    assert (r, b) == (14, 232) and est >= 0.98
    r, b, est = S.solve_simhash_bands(0.6)
    assert (r, b) == (12, 256) and 0.97 < est < 0.98
    # monotone headroom: every solve's estimate is a real recall bound
    for t in (0.95, 0.85, 0.75, 0.65):
        _, bb, e = S.solve_simhash_bands(t)
        assert bb <= 256 and e > 0.97
    # volume-aware regime (the sf10 JVM-kill lesson): at 500k docs the
    # (16, 152) solve's collision floor is ~2.9e8 verify candidates,
    # so the solve walks back to the clamped (20, 256) and reports the
    # degraded recall; at 50k docs the recall-first solve stands, and
    # t=0.9's (20, 85) floor fits at any measured n
    r, b, est = S.solve_simhash_bands(0.8, n_docs=500_000)
    assert (r, b) == (20, 256) and 0.92 < est < 0.94
    assert S.solve_simhash_bands(0.8, n_docs=50_000)[:2] == (16, 152)
    assert S.solve_simhash_bands(0.9, n_docs=500_000)[:2] == (20, 85)
    # floor arithmetic: the chosen (20, 256) fits the budget the
    # rejected (16, 152) blew through
    n = 500_000
    pairs = n * (n - 1) / 2
    assert 152 * 2.0**-16 * pairs > S.SIMHASH_CAND_BUDGET
    assert 256 * 2.0**-20 * pairs < S.SIMHASH_CAND_BUDGET


def test_tuned_simhash_low_threshold_recall(spark):
    """t=0.8 -- the regime the r9 clamp degraded -- must recover the
    exact pair set on a planted near-threshold corpus, with the solve
    recorded as a tuned_simhash_pairs decision."""
    from conversation_analysis_tools_spark.queries.nlp import _srf_corpus

    rows, pairs = _srf_corpus(80)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with capture() as recs:
        routed = {
            (r["id1"], r["id2"]): round(r["sim"], 9)
            for r in S.duplicate_pairs(
                docs, 0.8, route="simhash", collapse="never"
            ).collect()
        }
    exact = {
        (r["id1"], r["id2"]): round(r["sim"], 9)
        for r in S.duplicate_pairs(
            docs, 0.8, route="exact", collapse="never"
        ).collect()
    }
    assert routed == exact
    planted = {(i1, i2) for i1, i2, kind in pairs if kind == "planted"}
    control = {(i1, i2) for i1, i2, kind in pairs if kind == "control"}
    assert planted <= set(routed) and not control & set(routed)
    (solve,) = _gate(recs, "tuned_simhash_pairs")
    assert solve["choice"] == 16 and solve["b"] == 152
    assert solve["est_recall"] >= 0.98


def test_cosine_route_seeded_random_parity(spark):
    """Seeded random corpora at t=0.9: the routed plan must emit a
    subset of the exact pair set with identical sims (zero false
    positives -- exact verify) and find every pair well above
    threshold (banding solved for 0.98 recall AT t; md5 determinism
    fixes the outcome for these seeds)."""
    import random

    rng = random.Random(20260816)
    vocab = [f"w{chr(97 + i % 26)}{chr(97 + (i // 26) % 26)}x" for i in range(200)]
    for trial in range(2):
        rows = []
        for i in range(40):
            rows.append((i, " ".join(rng.choices(vocab, k=rng.randint(15, 30)))))
        for j, src in enumerate(rng.sample(range(40), 6)):
            words = rows[src][1].split()
            words[-1] = f"q{chr(97 + j)}tail"  # one-word perturbation
            rows.append((100 + j, " ".join(words)))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        exact = {
            (r["id1"], r["id2"]): round(r["sim"], 9)
            for r in S.duplicate_pairs(docs, 0.9, route="exact").collect()
        }
        routed = {
            (r["id1"], r["id2"]): round(r["sim"], 9)
            for r in S.duplicate_pairs(docs, 0.9, route="simhash").collect()
        }
        extras = set(routed) - set(exact)
        assert not extras, (trial, extras)
        for kk, v in routed.items():
            assert exact[kk] == v, (trial, kk)
        strong = {kk for kk, v in exact.items() if v >= 0.95}
        missed = strong - set(routed)
        assert not missed, (trial, missed)


def test_dense_doc_vectors_codegen_agg_form(spark):
    """The round-12 per-vocab-slot sum-aggregate form of
    _dense_doc_vectors must reproduce the map-lookup semantics
    exactly: vocab-aligned slots, 0.0 for absent terms, L2
    normalization with the zero-vector guard, and an empty
    vocabulary (max_df dropped every term) yielding no rows."""
    import math

    tf = spark.createDataFrame(
        [(1, "a", 0.5), (1, "b", 0.5), (2, "a", 1.0), (3, "c", 2.0)],
        "doc_id long, term string, tf double",
    )
    out = {
        r["_id"]: r["v"]
        for r in S._dense_doc_vectors(tf, "doc_id", ["a", "b", "c"]).collect()
    }
    s = 1 / math.sqrt(0.5)  # ||(0.5, 0.5, 0)||
    assert out[1] == [0.5 * s, 0.5 * s, 0.0]
    assert out[2] == [1.0, 0.0, 0.0]
    assert out[3] == [0.0, 0.0, 1.0]
    empty = S._dense_doc_vectors(tf.where(F.lit(False)), "doc_id", [])
    assert empty.count() == 0
