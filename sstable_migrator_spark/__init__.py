"""sstable_migrator_spark — a PySpark-native analytics/ETL engine.

A from-scratch rebuild of the capabilities of the reference
``messede-degod/sstable-migrator`` (a DNS-intelligence ETL pipeline:
CSV ingest -> validate/normalize -> enrich -> route to three
Cassandra-shaped tables, plus ClickHouse-documented analytics), expressed
Spark-first: declarative DataFrame plans, Catalyst optimization,
broadcast dimensions, sorted partitioned writes, and one batch run
per day for the reference's cron cadence (``pipelines/daily.py``).

Layout:
    session.py    SparkSession factory with scale-tuned confs
    schemas.py    fixed StructTypes for every table / wire format
    functions/    scalar Column-expression library (domains, net, text, vectors)
    sources/      readers + dimension loaders (SURVEY S1-S9)
    sinks/        cassandra-shaped sorted writes, parquet, split sinks (K1-K8)
    operators/    relational + domain pipelines (clean, ingest, dedup,
                  analytics, simsearch, multimodal)
    plans/        plan-inspection helpers (pushdown / broadcast assertions)
    pipelines/    the daily load (T1-T3) and the corpus/web-ingest funnels
"""

__version__ = "0.1.0"
