"""Job-path benchmark of prove-spark; see run.py."""
