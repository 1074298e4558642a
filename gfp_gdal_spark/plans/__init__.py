"""Physical-plan helpers: skew salting, iterative graph rounds and
checkpoint lineage.

The reference's only "plan" feature is transactional batching
(ogr_writer_node.cpp:524-531); everything here is north_rule scale
machinery:

- ``salting``: explicit hot-key salting for skewed cell joins;
- ``graph``: connected components, PageRank and BFS with per-round
  checkpoints that keep plan statistics absolute;
- ``lineage``: the resumable bucketed runner, whose per-bucket manifest
  lets a killed job resume without recomputing finished buckets.

Session-wide settings (AQE, shuffle partitions, memory) live in
``gfp_gdal_spark.session``.
"""
