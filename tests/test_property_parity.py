"""Randomized parity tests: the Spark column expressions must agree
with a direct Python implementation of the reference semantics
(re.findall tokenizer, Counter-based TF, str.split word counts) on a
seeded corpus of adversarial strings -- one Spark job per property.
"""

import math
import random
import re
import string
from collections import Counter

from pyspark.sql import functions as F

from conversation_analysis_tools_spark.functions.text import (
    STOPWORDS,
    sentences_expr,
    tokens_with_dupes_expr,
)
from conversation_analysis_tools_spark.operators import tfidf as T

_ALPHABET = string.ascii_letters + string.digits + " .!?'\"-_\t\n(){}[]@#$%&*"


def _corpus(n=200, seed=7):
    rng = random.Random(seed)
    out = []
    for i in range(n):
        k = rng.randint(0, 120)
        out.append((i, "".join(rng.choice(_ALPHABET) for _ in range(k))))
    # adversarial edges
    out += [
        (n, ""),
        (n + 1, "   "),
        (n + 2, "ab"),  # below 3-char minimum
        (n + 3, "the and or of"),  # all stopwords
        (n + 4, "abc123def ghi"),  # word-boundary interaction
        (n + 5, "The THE the tHe"),
    ]
    return out


def _py_tokens(text: str):
    words = re.findall(r"\b[a-z]{3,}\b", text.lower())
    return [w for w in words if w not in set(STOPWORDS)]


def test_tokenizer_matches_reference_python(spark):
    data = _corpus()
    df = spark.createDataFrame(data, "doc_id long, text string")
    got = {
        r["doc_id"]: r["toks"]
        for r in df.select("doc_id", tokens_with_dupes_expr("text").alias("toks")).collect()
    }
    for doc_id, text in data:
        assert got[doc_id] == _py_tokens(text), (doc_id, text)


def test_tf_matches_reference_python(spark):
    data = [(i, t) for i, t in _corpus(seed=11) if _py_tokens(t)]
    df = spark.createDataFrame(data, "doc_id long, text string")
    tf_max = T.tf_max(T.term_counts(T.explode_tokens(df)))
    got = {}
    for r in tf_max.collect():
        got.setdefault(r["doc_id"], {})[r["term"]] = r["tf"]
    for doc_id, text in data:
        c = Counter(_py_tokens(text))
        mx = max(c.values())
        expect = {t: n / mx for t, n in c.items()}
        assert got[doc_id] == expect, doc_id


def test_sentence_split_matches_reference_python(spark):
    data = _corpus(seed=13)
    df = spark.createDataFrame(data, "doc_id long, text string")
    got = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", sentences_expr("text").alias("s")).collect()
    }
    for doc_id, text in data:
        sents = [s.strip() for s in re.split(r"[.!?]+", text) if s.strip()]
        expect = [s for s in sents if len(s.split()) >= 3]
        assert got[doc_id] == expect, (doc_id, text)


def test_idf_formula_on_random_corpus(spark):
    data = _corpus(n=80, seed=17)
    df = spark.createDataFrame(data, "doc_id long, text string")
    n = len(data)
    idf = {r["term"]: r["idf"] for r in T.idf(T.explode_tokens(df), n).collect()}
    dfreq = Counter()
    for _, text in data:
        for t in set(_py_tokens(text)):
            dfreq[t] += 1
    for t, d in dfreq.items():
        assert abs(idf[t] - math.log(n / (1 + d))) < 1e-9, t


def test_inverted_cosine_matches_numpy_reference(spark):
    """The pre-normalized inverted-index cosine (round-3 rewrite: no
    per-doc norms join) must equal a direct numpy cosine over the same
    sum-normalized TF vectors on a seeded random corpus."""
    import numpy as np

    from conversation_analysis_tools_spark.operators import similarity as S

    rng = random.Random(13)
    vocab = [f"term{i:02d}" for i in range(40)]
    rows = []
    for i in range(60):
        k = rng.randint(0, 25)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(k))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    tf = S.tf_vectors(docs)
    got = {
        (r["id1"], r["id2"]): r["sim"]
        for r in S._pairwise_cosine_inverted(tf).collect()
    }

    # reference: sum-normalized TF dicts -> cosine
    def ref_vec(text):
        toks = [t for t in re.findall(r"\b[a-z]{3,}\b", text.lower())
                if t not in STOPWORDS]
        c = Counter(toks)
        tot = sum(c.values())
        return {t: n / tot for t, n in c.items()} if tot else {}

    vecs = {i: ref_vec(t) for i, t in rows}
    for (i, j), sim in got.items():
        vi, vj = vecs[i], vecs[j]
        dot = sum(vi[t] * vj.get(t, 0.0) for t in vi)
        ni = math.sqrt(sum(x * x for x in vi.values()))
        nj = math.sqrt(sum(x * x for x in vj.values()))
        want = dot / (ni * nj)
        assert abs(sim - want) < 1e-9, (i, j, sim, want)
    # completeness: every overlapping pair with nonzero cosine appears
    expected_pairs = {
        (i, j)
        for i in vecs for j in vecs if i < j
        and any(t in vecs[j] for t in vecs[i])
    }
    assert set(got) == expected_pairs


def test_span_removal_matches_reference_python(spark):
    """remove_duplicate_spans vs a direct Python implementation of the
    coverage rule on a randomized corpus with planted shared chunks,
    duplicated whole docs, and token-less edge docs."""
    from conversation_analysis_tools_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    width = 5
    rng = random.Random(23)
    vocab = [f"word{chr(97 + i)}" for i in range(30)]
    shared_a = [f"chunk{c}" for c in "abcdefg"]  # 7 tokens > width
    data = []
    for i in range(40):
        doc = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
        if i % 7 == 0:
            pos = rng.randint(0, len(doc))
            doc = doc[:pos] + shared_a + doc[pos:]
        data.append((i, " ".join(doc)))
    data += [(100, data[3][1]), (101, ""), (102, "ab x y")]  # dup doc, empties

    def py_tokens(t):
        return re.findall(r"\b[a-z]{3,}\b", t.lower())

    toks = {i: py_tokens(t) for i, t in data}
    spans = {
        i: [tuple(tk[s : s + width]) for s in range(max(0, len(tk) - width + 1))]
        for i, tk in toks.items()
    }
    span_docs = {}
    for i, sp in spans.items():
        for s in set(sp):
            span_docs.setdefault(s, set()).add(i)
    want = {}
    for i, tk in toks.items():
        starts = [s for s, sp in enumerate(spans[i]) if len(span_docs[sp]) >= 2]
        keep = [
            t for t in range(len(tk)) if not any(s <= t < s + width for s in starts)
        ]
        want[i] = (len(tk), len(tk) - len(keep), " ".join(tk[t] for t in keep))

    df = spark.createDataFrame(data, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned_text"])
        for r in remove_duplicate_spans(df, width=width).collect()
    }
    assert got == want
    assert any(v[1] > 0 for v in want.values()), "no dup spans planted; vacuous"


def test_minhash_signature_matches_python(spark):
    """The single-digest double-hashing signature (operators/dedup.py
    minhash_signatures) against a direct Python replay: one md5 per
    shingle, u/v = int(hex windows), h_i = (u%P + i*(v%(P-1)+1)) % P,
    min per doc. Randomized shingle sets including unicode + empties."""
    import hashlib

    from conversation_analysis_tools_spark.operators import dedup as D

    rng = random.Random(23)
    rows = []
    for doc in range(40):
        for _ in range(rng.randint(1, 12)):
            sh = "".join(rng.choice(_ALPHABET) for _ in range(rng.randint(1, 30)))
            rows.append((doc, sh))
    rows.append((99, "café naïve 中文"))  # non-ascii shingle
    df = spark.createDataFrame(rows, "doc_id long, shingle string")

    P = D.MINHASH_P
    expected: dict[int, list[int]] = {}
    for doc_id, sh in rows:
        d = hashlib.md5(sh.encode("utf-8")).hexdigest()
        u, v = int(d[0:15], 16), int(d[15:30], 16)
        um, step = u % P, v % (P - 1) + 1
        hs = [(um + i * step) % P for i in range(D.N_HASHES)]
        cur = expected.setdefault(doc_id, hs[:])
        expected[doc_id] = [min(a, b) for a, b in zip(cur, hs)]

    got = {
        r["doc_id"]: [r[f"h{i}"] for i in range(D.N_HASHES)]
        for r in D.minhash_signatures(df).collect()
    }
    assert got == expected


def test_cluster_members_match_cc_over_expanded_pairs(spark):
    """The round-6 canonicalize identity claim, property-tested: for a
    randomized dup-dense corpus, minhash_cluster_members (rep-grain CC
    + fingerprint inheritance) must assign exactly the labels
    connected_components gets from the fully expanded member-pair set,
    under BOTH the engaged and the direct plan."""
    import random

    from conversation_analysis_tools_spark.operators import dedup as D
    from conversation_analysis_tools_spark.operators.components import (
        connected_components,
    )

    rng = random.Random(13)
    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
             "golf", "hotel", "india", "juliet", "kilo", "lima"]
    rows, did = [], 0
    for _ in range(12):  # 12 base docs, each with 0-3 byte-distinct
        base = " ".join(rng.choice(words) for _ in range(rng.randint(6, 12)))
        variants = [base] + [
            base + "!" * rng.randint(1, 3) for _ in range(rng.randint(0, 3))
        ]
        for v in variants:
            rows.append((did, v))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    for collapse in ("always", "never"):
        got = {
            (r["id"], r["component"])
            for r in D.minhash_cluster_members(
                docs, threshold=0.4, collapse=collapse
            ).collect()
        }
        pairs = D.minhash_dedup_pairs(docs, threshold=0.4, collapse=collapse)
        want = {
            (r["id"], r["component"])
            for r in connected_components(pairs.select("id1", "id2")).collect()
        }
        assert got == want, f"collapse={collapse}: {got ^ want}"
