from .loader import TABLES, load_table
from .sinks import write_table

__all__ = ["TABLES", "load_table", "write_table"]
