"""pdf_extractor_spark — a PySpark-native main-content extraction engine.

A from-scratch rebuild of the capabilities of the reference
``itoyjakra/pdf-extractor`` (a single-threaded, LLM-assisted PDF→LaTeX Q&A
pipeline) as a deterministic, distributed Spark engine over multi-turn
conversation/agent transcripts.

Layout:

- :mod:`pdf_extractor_spark.core` — pure-Python extraction core (zero Spark
  imports).  Used both as the single-process *oracle* and as the payload of
  the vectorized Arrow UDFs, so per-turn text equality holds by construction.
- :mod:`pdf_extractor_spark.gen` — deterministic synthetic transcripts
  generator (the ``input_hint`` schema).
- :mod:`pdf_extractor_spark.job` — the distributed pipeline: scan → salted
  repartition → ``mapInPandas`` parse → window linking → native stitch →
  broadcast reference resolution → transactional sink with resumable
  watermark.
- :mod:`pdf_extractor_spark.queries` — operator library (relational
  operators from SURVEY.md §2 plus training-data-pipeline operators: dedup
  families, similarity search, text analysis, multimodal plumbing).  Each
  operator is defined once as a *shared spec* compiled to both a PySpark
  plan and an ANSI-SQL (DuckDB) oracle string.
"""

__version__ = "0.1.0"
