"""Spark operators, one module each; import them from their modules."""
