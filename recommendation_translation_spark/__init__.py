"""PySpark-native analytics engine with the capabilities of
schana/recommendation-translation, rebuilt Spark-first.

The reference (read-only at /root/reference/) is a Spark 2.1.1 Scala batch
job that ranks Wikipedia articles missing in a target language by predicted
readership.  This package re-expresses every operator in its inventory
(SURVEY.md §2) as declarative PySpark DataFrame / SQL plans that Catalyst
can optimize, and extends the surface with the operators a large-scale
(100 TB) training-data pipeline needs: deduplication, similarity search,
text analysis, event windowing, and multimodal column plumbing.

Layout
------
- ``session``    SparkSession builder tuned for local[32] testing and
                 cluster-scale defaults (AQE, Arrow, UTC).
- ``schemas``    exists-flag constants, the feature-matrix column order
                 and the pagecounts StructType (Utils.scala:8-21).
- ``sources``    readers/writers S1-S10 (DataGatherer.scala, ScorePredictor.scala).
- ``operators``  the relational core: normalized rank (FeatureExtractor.scala:50-104),
                 feature pivot, joins, plus dedup / similarity / text / events.
- ``pipeline``   MLlib train/score per site (ModelBuilder.scala, ScorePredictor.scala)
                 with driver-thread orchestration (JobRunner.scala:51-54).
- ``plans``      plan-inspection helpers (pushdown / broadcast assertions).
- ``streaming``  Structured Streaming variants of the event windows.
"""

__version__ = "0.1.0"
