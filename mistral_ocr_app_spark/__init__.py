"""mistral_ocr_app_spark — a from-scratch PySpark-native main-content
extraction engine with the query/data-processing capabilities of the
reference app ``ivan-meer/mistral-ocr-app`` (see the repository's
SURVEY.md).

Layout:
    fixtures/   deterministic transcript corpus generator + golden
                (single-process reference-semantics) extractor
    functions/  pure-Python payload parsers used inside pandas UDFs
                (markdown link rewrite, HTML boilerplate strip, span parse)
    operators/  the Spark operators: vectorized extraction, ordered
                assembly, relational catalog for the DuckDB oracle
    plans/      checkpoint/lineage (resumable partition commits)
    streaming/  structured-streaming metrics surface (optional)
"""

__version__ = "0.1.0"
