"""wned_spark — a from-scratch PySpark-native entity-resolution engine.

Re-expresses the capabilities of U-Alberta/wned (WNED, Guo & Barbosa,
CIKM 2014; reference at /root/reference) as a distributed record-linkage
pipeline over multi-turn transcript tables:

- candidate generation via salt-split mention-token + MinHash-LSH blocking
  (replacing the Lucene alias index, ``cs/CandidateSelectionLucene.java``)
- pairwise scoring with Arrow-batched pandas UDFs + JVM-side expressions
  (string similarity family of ``utils/similarity/StringSim.java`` fused
  with personalized-PageRank semantic signatures,
  ``graph/algorithms/WeightedPersonalizedPageRank.java``)
- threshold decision + large-star/small-star connected components
  (replacing the per-mention argmax of ``SemanticSignatureEL.java:576-723``)

Everything is DataFrame-first: Catalyst plans the physical execution;
Python appears only in Arrow-vectorized UDFs on genuinely non-relational
kernels (Jaro-Winkler). See SURVEY.md for the operator-by-operator map.
"""

__version__ = "0.1.0"
