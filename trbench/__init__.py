"""Text-reuse engine benchmark (see README.md)."""
