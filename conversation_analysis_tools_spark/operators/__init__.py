"""Reusable DataFrame -> DataFrame operators (the engine's public API).

Modules:
    tfidf       -- reference-exact TF/IDF/TF-IDF tables (N2-N5)
    relevance   -- keyword density/coverage/tfidf relevance (N6-N10)
    similarity  -- inverted-index + LSH similarity joins (N16-N18, J8)
    components  -- iterative connected components (N19-N20)
    textrank    -- grouped-pandas TextRank (N13-N15)
    priority    -- multi-factor priority classifier (N21-N25)
    dedup       -- dedup family: exact / minhash / simhash / ngram / embedding
    ann         -- approximate nearest neighbor over embeddings
    textstats   -- language-ID, quality scoring, token counts, fingerprints
"""
