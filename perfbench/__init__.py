"""Security-lake benchmark (see run.py and README.md)."""
