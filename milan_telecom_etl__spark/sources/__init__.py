from .parquet import load_table, register_testdata  # noqa: F401
