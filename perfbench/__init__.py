"""Layer-attributed benchmark of the spark-graft engine (see run.py)."""
