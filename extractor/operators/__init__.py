"""First-class training-data-pipeline operators.

* ``dedup``       — exact, MinHash+LSH, SimHash (+ hamming pairs),
                    n-gram Jaccard / directional containment,
                    embedding-cosine near-dup (OR-amplified SRP
                    bands), connected-components cluster resolution,
                    quality-aware canonicals, paragraph-grain dedup
                    with reconstruction, host-template discovery +
                    strip, duplicated-span coverage + removal, top
                    duplicated n-grams, benchmark n-gram
                    decontamination
* ``sketch``      — Bloom membership pre-gate (no-false-negative
                    probe of dedup history without re-reading it)
* ``chunking``    — content-defined chunking (shift-resistant
                    chunk-grain dedup across captures)
* ``similarity``  — brute-force cosine top-k, SRP-LSH-bucketed and
                    IVF approximate top-k, measured recall, int8
                    quantization with measured search agreement
* ``webgraph``    — outlink edge extraction, fixed-iteration integer
                    PageRank (dangling modes) + seeded TrustRank +
                    HITS hub/authority + categorical label
                    propagation, host-graph rollup + link stats +
                    degree histograms + URL-section profiles,
                    robots.txt parsing (rules + sitemap discovery) +
                    Disallow gate, frontier scoring, politeness
                    fetch scheduling
* ``incremental`` — crawl-batch fuzzy dedup against a committed
                    band-signature index (history never recomputed)
* ``crawl``       — cross-crawl delta / latest-wins resolution /
                    content moves, redirect resolution (pointer
                    doubling), soft-404 gate, recrawl priority,
                    sitemap fetch decisions, mirror-host detection,
                    per-crawl novelty, canonical-URL consolidation,
                    extraction A/B churn canary, source-mixture
                    drift monitoring
* ``relevance``   — integer TF-IDF keyterms, inbound anchor-text
                    profiles, exact-anchor spam concentration,
                    inverted-index build / LSM merge with stopword
                    tombstones / streaming fold, conjunctive +
                    phrase + ranked retrieval, KWIC snippets, df
                    histogram index stats, Dice collocation mining
* ``textstats``   — language-ID, quality scoring (Gopher rules,
                    unigram + conditional-bigram surprisal, CCNet
                    terciles), token counting, document
                    fingerprinting
* ``metadata``    — head-field extraction (title/canonical/lang/og)
* ``charset``     — WHATWG charset sniff + per-row decode, NFC/
                    control/whitespace text normalization
* ``packing``     — shard-parallel sequence packing, deterministic
                    training shards
* ``topk``        — bounded per-group top-k (the window-free
                    sample/vocab/sketch building block)
* ``multimodal``  — binary-column compress/resize (PIL-gated, stub
                    fallback), frame sampling, pseudo-embeddings

All hot paths are JVM expressions (higher-order array functions) —
no Python in the per-row path — so they stay inside whole-stage
codegen and scale with executor count.
"""
