"""The tokenstore benchmark (see README.md)."""
