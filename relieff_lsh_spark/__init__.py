"""relieff_lsh_spark — a from-scratch PySpark-native near-duplicate detection
and clustering engine.

Capability parity target: eirasf/ReliefF-LSH (see SURVEY.md). The reference's
LSH-bucketed candidate generation -> exact-distance verification -> per-key
aggregation skeleton (reference ReliefFFeatureSelector.scala:120-193) is
re-expressed here as an idiomatic DataFrame pipeline:

    corpus -> fingerprints (Arrow UDFs) -> bands (posexplode)
           -> candidates (band equi-join, salted/capped)
           -> verified (Hamming/Jaccard/substring thresholds, JVM-side)
           -> components (one-task union-find up to 2^20 edges, else
              alternating large-star/small-star rounds)

No code is ported from the reference; all citations in docstrings are for
behavioral parity checking only.
"""

from relieff_lsh_spark.config import DedupConfig

__all__ = ["DedupConfig"]
__version__ = "0.1.0"
