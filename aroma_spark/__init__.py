"""aroma_spark — a PySpark-native asynchronous time-series preparation and
rollup engine.

A from-scratch re-expression of the query/data-prep capabilities of the
reference library ``durandtibo/aroma`` (irregular event-sequence dataset
preparation: stable per-entity ordering, dedup, vocabulary build/encode,
inter-event times, padding semantics — see /root/repo/SURVEY.md) as an
idiomatic Spark DataFrame engine, generalized into a downsample + rollup +
retention pipeline over multi-turn conversation/agent transcript tables
``(conv_id, turn_idx, role, text, tool, ts)``:

- normalization under stable ``(conv_id, turn_idx)`` ordering;
- derived signals (inter-turn latency, text length, tool-call counts);
- LOCF + linear-interpolation gap-fill over a regular grid;
- continuous-aggregate tier lattice raw -> 1m -> 1h -> 1d computed by
  re-aggregation of algebraic partials (integer-exact);
- salted two-stage aggregation for hot conversations;
- Gorilla XOR + delta-of-delta codecs in vectorized Arrow UDFs;
- per-partition checkpoints with lineage + row-count metrics;
- training-data ops: dedup (exact / MinHash-LSH / SimHash / n-gram
  Jaccard / embedding cosine), ANN similarity search, text analysis.

Everything executes as Catalyst logical plans built from ``pyspark.sql``;
Python appears only inside Arrow-vectorized UDFs (codecs, parity padding).
"""

__version__ = "0.1.0"
