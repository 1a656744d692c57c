"""neontology_spark — a PySpark-native schema + constraint validation engine.

From-scratch re-expression of ontolocy/neontology's declarative model +
constraint semantics (Pydantic BaseNode/BaseRelationship, merge policies,
filter DSL, referential-integrity checks) as a constraint DSL compiled to
Spark DataFrame predicates, designed for Iceberg/Parquet tables at
10^12-row scale. See SURVEY.md for the full reference mapping.
"""

from .filters import FilterError, compile_filters
from .identifiers import InvalidIdentifierError, check_identifier
from .query import QueryResult, register_graph, run_query, run_query_single
from .models import (
    MergePolicy,
    ModelCatalog,
    ModelError,
    NodeModel,
    Property,
    RelationshipModel,
    UniquenessConstraint,
    UnsupportedTypeError,
    resolve_type,
)

from . import (  # noqa: F401  (public module surface)
    audit,
    bucketing,
    checks,
    components,
    dedup,
    filters,
    fused,
    images,
    merge_sql,
    models,
    multimodal,
    nodes,
    query,
    relationships,
    sampling,
    similarity,
    streaming,
    textops,
    tools,
    upsert,
    worker_imports,
)

worker_imports.install()

__version__ = "0.1.0"

__all__ = [
    "FilterError",
    "compile_filters",
    "InvalidIdentifierError",
    "check_identifier",
    "MergePolicy",
    "ModelCatalog",
    "ModelError",
    "NodeModel",
    "Property",
    "RelationshipModel",
    "UniquenessConstraint",
    "UnsupportedTypeError",
    "resolve_type",
    "QueryResult",
    "register_graph",
    "run_query",
    "run_query_single",
]
