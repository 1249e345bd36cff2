from .lww import collapse_lww, collapse_lww_columnar, collapse_lww_window  # noqa: F401
from .asof import asof_join  # noqa: F401
from .scd2 import scd2_history  # noqa: F401
from .classify import classify_expr  # noqa: F401
from .colocated import colocated_join, colocated_join_many  # noqa: F401
from .schema_evolution import align_schemas, merge_schemas  # noqa: F401
