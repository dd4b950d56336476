"""pubcrawler_spark — a PySpark-native web-frontier + analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
the reference crawler (``SingularGuyLeBorn/PubCrawler``, surveyed in
/root/repo/SURVEY.md) as an idiomatic Spark DataFrame engine:

- URL frontier + fetch scheduler (canonicalize/hash via Arrow UDFs,
  bloom-sharded URL-seen set, per-host politeness budgets with skew
  salting, robots.txt rules, deterministic crawl ordering).
- Batch HTML extraction (pandas UDF, byte-identical vs a pure-Python
  reference mirror).
- Relational analytics (classify/explode/pivot/top-k/word-frequency)
  mirroring the reference's pandas analytics (src/analysis/trends.py,
  src/analysis/analyzer.py).
- Search (field-scoped keyword compiler + exact cosine semantic top-k).
- Training-data pipeline operators: dedup (exact/minhash-LSH/simhash/
  n-gram-jaccard/embedding), ANN similarity search, text quality
  stats.

Everything is DataFrame-API first; Python appears only inside
Arrow-batched pandas UDFs (never per-row Python UDFs).
"""

__version__ = "0.1.0"
