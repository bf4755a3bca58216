from .datetime_ext import date_series, dayname, monthname
from .keys import md5_int60, surrogate_key
from .maps import mapping_column

__all__ = ["date_series", "dayname", "monthname", "md5_int60", "surrogate_key", "mapping_column"]
