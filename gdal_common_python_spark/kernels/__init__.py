"""Numpy geometry / raster / cell kernels.

Everything in this subpackage is GDAL-free: plain functions on numpy arrays
and small Python containers, which the Spark layer calls on Arrow batches
inside pandas UDFs / applyInPandas kernels, so the exact-parity logic is
unit-testable without a SparkSession (SURVEY.md §5.2). The one exception
to Spark-freedom is ``cells``, which also holds the Column (codegen) twins
of its numpy grid functions so the cell grid is defined in one place.
"""
