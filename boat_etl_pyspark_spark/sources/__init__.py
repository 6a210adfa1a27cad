from .readers import load_table  # noqa: F401
