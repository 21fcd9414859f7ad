from cognee_spark.functions.ids import (  # noqa: F401
    edge_object_id_col,
    edge_object_id_py,
    id_for_col,
    id_for_py,
    node_id_col,
    node_id_py,
    normalize_edge_name_py,
    normalize_identity_col,
    normalize_identity_py,
    normalize_node_name_py,
    uuid5_col,
)
