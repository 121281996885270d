"""Security-state reconcile engine (the reference's core semantics).

Observed state = the catalog's in-memory control-plane rows (system.users
et al. analogs, with DataFrame views); desired state = Python specs;
plan() = pure diff returning an ordered Statement list; apply() = catalog
mutation. Neither runs a Spark job. See SURVEY.md §1-§3.
"""

from clickhouse_modules_spark.reconcile.catalog import Catalog
from clickhouse_modules_spark.reconcile.engine import (
    GrantValidationError,
    SpecError,
    UnknownGranteeError,
    apply_statements,
    plan_grants,
    plan_roles,
    plan_user,
    reconcile_grants,
    reconcile_roles,
    reconcile_user,
)

__all__ = [
    "Catalog",
    "GrantValidationError",
    "SpecError",
    "UnknownGranteeError",
    "apply_statements",
    "plan_grants",
    "plan_roles",
    "plan_user",
    "reconcile_grants",
    "reconcile_roles",
    "reconcile_user",
]
