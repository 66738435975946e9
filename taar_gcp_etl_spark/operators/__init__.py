"""Operator inventory (SURVEY.md §2) — each module groups one family.

ranking.py     A1 grouped counts, O2 top-k, §2.10 grouped top-k + coinstall
filters.py     P1-P12 projections/predicates (whitelist family)
joins.py       J1/J2, SET1, §2.11 general join matrix incl. range joins
serving.py     F1 sha256 key pack + S9/S10 serving-table upsert/delete
windows.py     §2.11 window functions, A7 per-key latest, event-time windows
dedup.py       north-star dedup: exact, MinHash+LSH, SimHash, n-gram Jaccard
similarity.py  north-star ANN: brute-force cosine top-k, bucketed LSH variant
text.py        north-star text analysis: lang-id, quality, tokens, fingerprint
"""
