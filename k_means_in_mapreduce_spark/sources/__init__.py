from .literal import literal_frame
from .tables import load_table, register_views
from .text_points import format_points, parse_points

__all__ = ["literal_frame", "load_table", "register_views", "format_points", "parse_points"]
