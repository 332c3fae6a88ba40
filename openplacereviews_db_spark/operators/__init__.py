"""Engine operators.

Submodules: changelog (dotted-path edits, M9 fold, E1 CDC),
place_merge (match cascade, merge/close ops), cluster (greedy G2,
segmentation G1), osm_sync (id lookup, M1-M4, S14 packing),
components (connected components / dedup groups), dedup (exact,
minhash-LSH, simhash, banded n-gram Jaccard, containment), similarity
(cosine exact/LSH/IVF), textstats, multimodal, upsert (MERGE
semantics, config delta).
"""
