"""crossai_ts_spark — a PySpark-native time-series rollup + downsample +
retention engine with the query/data-processing capabilities of
AIoT-Group-UoP/crossai-ts (`caits`), re-expressed Spark-first.

Everything relational is declarative DataFrame/SQL (Catalyst does pruning,
pushdown, codegen, AQE); per-sequence numeric kernels (FFT-class features,
Gorilla / delta-of-delta codecs) run as vectorized pandas/Arrow UDFs — never
per-row Python.

Layout:
    session.py    SparkSession factory (Arrow on, AQE on, UTC)
    schema.py     input + tier + long-format schemas
    datagen.py    deterministic synthetic sequences table (FIXTURES.md F1/F2)
    entry_queries.py  the registered queries, each with its DuckDB oracle SQL
    oracle/       single-machine numpy reference implementation (test golden)
    operators/    rollup, cascade, gapfill, salted, dedup, similarity,
                  textstats, sketches (hll, cms, bloom), packing, augment
    functions/    codecs (Gorilla/ΔΔ), DSP and spectral kernels, scalar
                  column exprs
    sources/      io abstraction (iceberg-or-parquet), tokenizer
    plans/        checkpoint manifests + resume, the EP3 chain
    streaming/    structured-streaming twins of the rollup and sketches
"""

__version__ = "0.1.0"
