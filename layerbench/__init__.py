"""layerbench: the repository benchmark (see run.py and DESIGN.md)."""
