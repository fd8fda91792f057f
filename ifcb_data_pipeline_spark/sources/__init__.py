from .tables import SCHEMAS, TABLES, load_table, stream_table

__all__ = ["SCHEMAS", "TABLES", "load_table", "stream_table"]
