from .tables import TABLE_NAMES, load_table
from .ticks import ticks

__all__ = ["TABLE_NAMES", "load_table", "ticks"]
