"""parallel_map_reduce_spark — a PySpark-native analytics engine.

A brand-new engine with the query/data-processing capabilities of the
reference repo ``AlexandruTarau/Parallel-Map-Reduce`` (a pthreads C++
map-reduce inverted-index builder, ``src/tema1.cpp``), re-expressed
Spark-first: logical plans are declared with the DataFrame API and
Catalyst/Tungsten pick the physical strategy.

Layout
------
- ``session``    : SparkSession builder tuned for the workload.
- ``sources``    : table catalog + manifest-driven text source.
- ``operators``  : the operator library (tokenize, inverted index,
                   dedup, similarity, text analysis, relational helpers).
- ``functions``  : reusable Column-expression helpers.
- ``kernels``    : shared core of the ``mapInArrow`` kernels (ASCII
                   tokenizer, shingles, capped md5 memo, centroid
                   scoring), pickled by value to the workers.
- ``plans``      : end-to-end query pipelines (the flagship query).
- ``streaming``  : Structured Streaming pipelines over the events table.
- ``sinks``      : output writers (partitioned letter text sink).
- ``multimodal`` : binary columns with REAL stdlib decoders (image
                   headers + pixels incl. baseline JPEG, PCM audio
                   samples, AVI containers + frames).

Everything here is built on public PySpark APIs only.
"""

__version__ = "0.1.0"
