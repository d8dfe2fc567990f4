"""Repository benchmark: see run.py and LAYERS.md."""
