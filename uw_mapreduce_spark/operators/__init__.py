"""Distributed operators, one module each; import them from their submodule
(``from uw_mapreduce_spark.operators.scale import ...``)."""
