"""dp3_spark benchmark: see run.py and spec.py."""
