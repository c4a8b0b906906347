"""damr-spark benchmark (see run.py)."""
