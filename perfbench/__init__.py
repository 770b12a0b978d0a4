"""perfbench: the engine benchmark (see README.md)."""
