"""Engine operators beyond plain projection/filter/agg/join.

- ``upsert``     — TABLE latest-by-key materialization (README.md:92)
- ``dedup``      — exact / MinHash-LSH / SimHash / n-gram Jaccard /
                   embedding-cosine near-duplicate detection
- ``similarity`` — cosine top-k ANN (brute-force baseline + LSH scale path)
- ``text``       — language-ID, quality scoring, token counts, fingerprints
- ``multimodal`` — binary media columns with typed metadata + byte-level codec stand-ins
"""
