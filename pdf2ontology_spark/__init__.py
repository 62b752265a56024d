"""pdf2ontology_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of the
reference PDF2Ontology pipeline (see SURVEY.md).

Everything here is built on the public PySpark DataFrame API: stages are
pure ``DataFrame -> DataFrame`` functions, ids are deterministic content
hashes, and the hot path stays JVM-side (windows / joins / higher-order
array functions) with pandas/Arrow UDFs only where built-ins genuinely
cannot express the semantics (media decode plumbing).
"""

__version__ = "0.1.0"


def __getattr__(name: str):
    # ``get_spark`` loads on first use: the worker daemon imports this
    # package and must not pull in pyspark.sql (and with it numpy)
    if name == "get_spark":
        from pdf2ontology_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
