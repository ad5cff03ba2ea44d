"""Pure numpy/pandas kernels — no Spark imports.

Every kernel is a vectorized function over a flat "lines" pandas DataFrame
(one row per input span, columns doc_id/seq/kind/text/media_ref/offset plus
derived feature columns). The Spark layer (pipeline.py) explodes document rows
into this shape inside mapInArrow, calls the kernels, and regroups — so the
same code is unit-testable without a SparkSession (SURVEY.md §5.2 item 2).
"""
