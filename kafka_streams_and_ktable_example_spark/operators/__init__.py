"""Engine operators.

- ``ktable``     — the reference's core semantics: changelog → latest-per-key
                   snapshot → filtered grouped set aggregate → queryable view.
- ``dedup``      — exact and near-duplicate detection (MinHash-LSH, SimHash,
                   n-gram Jaccard, embedding cosine).
- ``similarity`` — approximate nearest neighbor over embedding columns.
- ``text``       — language id, quality scoring, token counting, fingerprints.
- ``multimodal`` — binary-column plumbing for image/audio/video payloads.
- ``graph``      — the graph queries' edge lists, as DataFrame builders and
                   oracle SQL fragments.
"""

from .ktable import latest_snapshot, shareholders_view, grouped_reduce_view

__all__ = ["latest_snapshot", "shareholders_view", "grouped_reduce_view"]
