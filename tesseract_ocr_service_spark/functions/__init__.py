"""Pure pandas/numpy building blocks of the extraction kernel.

Everything in this package is Spark-free and deterministic; the Spark
layer (`..operators`) feeds these Arrow batches via ``mapInArrow``.
"""
