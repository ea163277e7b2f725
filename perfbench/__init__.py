"""The repository benchmark: see run.py and NOTE.md."""
