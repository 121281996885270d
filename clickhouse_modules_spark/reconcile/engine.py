"""Plan/apply reconcile engine — the reference's write-side semantics.

``plan_*`` are PURE functions: introspect the catalog (R1-R7), diff
against the desired spec, return an ordered ``list[Statement]`` whose
rendered SQL matches what the reference pushes into ``query_list``
(W1-W11, SURVEY §2B). ``apply_statements`` executes a plan as catalog-
row mutations. ``reconcile_*`` = plan + apply + result.

Deliberate fixes of reference quirks (SURVEY §2B), each noted inline:

- F1: user absent + neither password nor hash → typed ``SpecError``
  (reference: UnboundLocalError, clickhouse_users.py:204-209).
- F2: unknown grantee in the roles branch → ``UnknownGranteeError``
  (reference: NameError on the out-of-scope ``module``,
  clickhouse_grants.py:170-171,335).
- F3: check/plan mode returns the REAL planned statements (reference's
  check mode exits changed=false without inspecting anything,
  clickhouse_users.py:295-296; clickhouse_grants.py:345-346).
- F4: identifiers are escaped on render; secrets are redacted in
  reported statements (reference interpolates raw f-strings,
  clickhouse_users.py:149,206).
- F5: roles-revoke path also reports user_status (reference only
  attaches it on the grant path, clickhouse_grants.py:223).
- F6: ``cluster_name``/``on_cluster`` are rejected loudly if passed
  (reference documents them but never interpolates them into any query —
  dead parameters, clickhouse_grants.py:92-103,326-327).
"""

from __future__ import annotations

import hashlib

from clickhouse_modules_spark.plans.statements import (
    ReconcileResult,
    Statement,
    bare_ident,
    q_ident,
)
from clickhouse_modules_spark.reconcile import introspect as insp
from clickhouse_modules_spark.reconcile.catalog import Catalog


class SpecError(ValueError):
    """Invalid desired-state spec (F1)."""


class UnknownGranteeError(KeyError):
    """Grantee does not exist in the catalog (F2)."""


class GrantValidationError(ValueError):
    """Privilege not in the three-tier vocabulary."""


class ApplyError(RuntimeError):
    """Statement cannot be applied to the catalog (e.g. ALTER of a
    missing quota — the analog of the server error the reference surfaces
    via its DB::Exception regex, clickhouse_users.py:323-325)."""


# --- privilege taxonomy: EXACT vocabulary and casing of the reference
# (clickhouse_grants.py:241-280). Validation reproduces the reference's
# rule verbatim: grant.upper() ∈ vocabulary OR grant == 'dictGet'
# (the special case at clickhouse_grants.py:287 — 'DICTGET' is not in the
# list, so only the exact camel-case spelling passes).
SYSTEM_LEVEL_GRANTS = [
    "CREATE FUNCTION",
    "DROP FUNCTION",
    "RELOAD DICTIONARY",
    "KILL QUERY",
    "MYSQL",
    "CLUSTER",
]
DATABASE_LEVEL_GRANTS = [
    "CREATE DATABASE",
    "DROP DATABASE",
]
TABLE_LEVEL_GRANTS = [
    "ALL",
    "SELECT",
    "SHOW",
    "dictGet",
    "INSERT",
    "UPDATE",
    "DELETE",
    "ALTER",
    "ALTER TABLE",
    "ALTER COLUMN",
    "ALTER CONSTRAINT",
    "ALTER INDEX",
    "ALTER VIEW",
    "ALTER TTL",
    "CREATE",
    "CREATE TABLE",
    "CREATE VIEW",
    "CREATE DICTIONARY",
    "DROP",
    "DROP TABLE",
    "DROP VIEW",
    "DROP DICTIONARY",
    "TRUNCATE",
    "OPTIMIZE",
]
APPLICABLE_GRANTS = SYSTEM_LEVEL_GRANTS + DATABASE_LEVEL_GRANTS + TABLE_LEVEL_GRANTS


def validate_grants(grants_list: list[str]) -> None:
    """Reference validation rule, verbatim (clickhouse_grants.py:285-290)."""
    for grant in grants_list:
        if grant.upper() not in APPLICABLE_GRANTS and grant != "dictGet":
            raise GrantValidationError(
                f"{grant.upper()} not in applicable grants: "
                f"{', '.join(APPLICABLE_GRANTS)}."
            )


def sha256_hex(value: str) -> str:
    return hashlib.sha256(value.encode("utf-8")).hexdigest()


# ----------------------------------------------------------------- users
def plan_user(
    catalog: Catalog,
    user: str,
    password: str | None = None,
    password_hash: str | None = None,
    roles: list[str] | None = None,
    init_roles: bool = False,
    quota: str = "",
    profile: str = "",
    state: str = "present",
    cluster_name: str | None = None,
) -> list[Statement]:
    """Plan for one user spec — mirrors create_update_user / delete_user
    (clickhouse_users.py:192-257) statement for statement."""
    if cluster_name is not None:
        # F6: the reference accepts-and-ignores this. Fail loudly instead.
        raise SpecError("cluster_name is not supported (dead parameter in the reference)")
    if password and password_hash:
        # mirrors the reference's mutual-exclusion check (clickhouse_users.py:313-314)
        raise SpecError("password and password_hash are mutually exclusive")
    if state == "absent":
        return _plan_drop_user(catalog, user)
    if state != "present":
        raise SpecError(f"unknown user_state: {state}")

    roles = roles or []
    stmts: list[Statement] = []
    user_exists = insp.user_exists(catalog, user)

    # W1/W2 — CREATE USER (clickhouse_users.py:204-209)
    if not user_exists:
        if password:
            stmts.append(
                Statement(
                    op="create_user",
                    sql=(
                        f"CREATE USER {q_ident(user)} IDENTIFIED WITH "
                        f"sha256_password BY '{password}'"
                    ),
                    redacted_sql=(
                        f"CREATE USER {q_ident(user)} IDENTIFIED WITH "
                        f"sha256_password BY '[REDACTED]'"
                    ),
                    params={
                        "name": user,
                        "auth_type": "sha256_password",
                        "password_sha256": sha256_hex(password),
                    },
                )
            )
        elif password_hash:
            stmts.append(
                Statement(
                    op="create_user",
                    sql=(
                        f"CREATE USER {q_ident(user)} IDENTIFIED WITH "
                        f"sha256_hash BY '{password_hash}'"
                    ),
                    redacted_sql=(
                        f"CREATE USER {q_ident(user)} IDENTIFIED WITH "
                        f"sha256_hash BY '[REDACTED]'"
                    ),
                    params={
                        "name": user,
                        "auth_type": "sha256_hash",
                        "password_sha256": password_hash,
                    },
                )
            )
        else:
            # F1 — reference hits UnboundLocalError here
            raise SpecError(
                f"user {user!r} does not exist and neither password nor "
                "password_hash was given"
            )

    # W3 — ALTER QUOTA (clickhouse_users.py:211-218): the statement
    # rewrites the FULL apply list (R6 fetched it, we append the user).
    if quota != "":
        user_quotas = insp.get_user_quotas(catalog, user)
        if quota not in user_quotas:
            apply_users = insp.quota_apply_list(catalog, quota) + [user]
            stmts.append(
                Statement(
                    op="alter_quota",
                    sql=f"ALTER QUOTA {bare_ident(quota)} to {', '.join(apply_users)}",
                    params={"quota": quota, "apply_to_list": apply_users},
                )
            )

    # W4 — ALTER USER SETTINGS PROFILE (clickhouse_users.py:220-226)
    if profile != "":
        user_profiles = insp.get_user_profiles(catalog, user)
        if profile not in user_profiles:
            stmts.append(
                Statement(
                    op="set_profile",
                    sql=(
                        f"ALTER USER {bare_ident(user)} SETTINGS PROFILE "
                        f"{bare_ident(profile)}"
                    ),
                    params={"user": user, "profile": profile},
                )
            )

    # W5/W6 — roles (clickhouse_users.py:229-242). The reference emits
    # CREATE ROLE for EVERY desired role (not only missing ones) when any
    # is ungranted — reproduced: CREATE ROLE IF NOT EXISTS is idempotent.
    if roles:
        missing = insp.roles_missing(catalog, user, roles)
        if init_roles and missing:
            for role in roles:
                stmts.append(
                    Statement(
                        op="create_role",
                        sql=f"CREATE ROLE IF NOT EXISTS {bare_ident(role)}",
                        params={"role": role},
                    )
                )
        if missing:
            stmts.append(
                Statement(
                    op="grant_roles",
                    sql=f"GRANT {', '.join(roles)} to {q_ident(user)}",
                    params={"user": user, "roles": list(roles), "replace": False},
                )
            )
    return stmts


def _plan_drop_user(catalog: Catalog, user: str) -> list[Statement]:
    """W11 — DROP USER; no-op when absent (clickhouse_users.py:251-257)."""
    if not insp.user_exists(catalog, user):
        return []
    return [
        Statement(op="drop_user", sql=f"DROP USER {q_ident(user)}", params={"name": user})
    ]


# ----------------------------------------------------------------- roles
def plan_roles(
    catalog: Catalog,
    grantee: str,
    roles: list[str],
    init_roles: bool = False,
    replace_grants: bool = False,
    revoke_grants: bool = False,
) -> list[Statement]:
    """Roles branch — mirrors grant_roles_func (clickhouse_grants.py:182-230)."""
    if not insp.user_exists(catalog, grantee):
        # F2 — reference raises NameError via out-of-scope `module`
        raise UnknownGranteeError(f"'{grantee}' user does not exist")

    user_roles = insp.get_user_roles(catalog, grantee)
    user_has_roles = all(r in user_roles for r in roles)
    stmts: list[Statement] = []

    if revoke_grants:
        # W8 — per-role REVOKE, only for currently-granted roles
        for role in roles:
            if role in user_roles:
                stmts.append(
                    Statement(
                        op="revoke_role",
                        sql=f"REVOKE {role} from {q_ident(grantee)}",
                        params={"user": grantee, "role": role},
                    )
                )
        return stmts

    # W5 — create every desired role when any is missing (reference emits
    # the full loop, not just missing ones)
    if init_roles and not user_has_roles:
        for role in roles:
            stmts.append(
                Statement(
                    op="create_role",
                    sql=f"CREATE ROLE IF NOT EXISTS {bare_ident(role)}",
                    params={"role": role},
                )
            )

    if replace_grants:
        # W7 — UNCONDITIONAL emit (even if already granted) — reproduced
        stmts.append(
            Statement(
                op="grant_roles",
                sql=(
                    f"GRANT {', '.join(roles)} to {q_ident(grantee)} "
                    "WITH REPLACE OPTION"
                ),
                params={"user": grantee, "roles": list(roles), "replace": True},
            )
        )
    elif not user_has_roles:
        # W6
        stmts.append(
            Statement(
                op="grant_roles",
                sql=f"GRANT {', '.join(roles)} to {q_ident(grantee)}",
                params={"user": grantee, "roles": list(roles), "replace": False},
            )
        )
    return stmts


# ---------------------------------------------------------------- grants
def plan_grants(
    catalog: Catalog,
    grantee: str,
    grants_list: list[str],
    databases: list[str],
    tables: list[str],
    replace_grants: bool = False,
    revoke_grants: bool = False,
) -> list[Statement]:
    """Grants branch — mirrors grants_func (clickhouse_grants.py:233-308):
    validate vocabulary, then the cartesian databases × tables loop with
    REPLACE OPTION only on the first (db_idx==0 and tb_idx==0) pair.
    Emission is UNCONDITIONAL (no diff-before-write in the reference's
    grants branch) — reproduced.
    """
    validate_grants(grants_list)
    stmts: list[Statement] = []
    for db_idx, database in enumerate(databases):
        for tb_idx, table in enumerate(tables):
            if not revoke_grants:
                replace_here = replace_grants and db_idx == 0 and tb_idx == 0
                sub = " WITH REPLACE OPTION" if replace_here else ""
                stmts.append(
                    Statement(
                        op="grant_privs",
                        sql=(
                            f"GRANT {', '.join(grants_list)} on "
                            f"{database}.{table} to {q_ident(grantee)}{sub}"
                        ),
                        params={
                            "grantee": grantee,
                            "privileges": list(grants_list),
                            "database": database,
                            "table": table,
                            "replace": replace_here,
                        },
                    )
                )
            else:
                stmts.append(
                    Statement(
                        op="revoke_privs",
                        sql=(
                            f"REVOKE {', '.join(grants_list)} on "
                            f"{database}.{table} from {q_ident(grantee)}"
                        ),
                        params={
                            "grantee": grantee,
                            "privileges": list(grants_list),
                            "database": database,
                            "table": table,
                        },
                    )
                )
    return stmts


# ----------------------------------------------------------------- apply
def apply_statements(catalog: Catalog, statements: list[Statement]) -> Catalog:
    """Execute a plan as catalog-row mutations (batched single flush,
    like the reference's execute loop at clickhouse_users.py:245-247).
    Returns the new catalog."""
    for stmt in statements:
        catalog = _apply_one(catalog, stmt)
    return catalog


def _without(table: tuple[tuple, ...], key: str) -> tuple[tuple, ...]:
    """The rows whose first column is not ``key``, in order."""
    return tuple(r for r in table if r[0] != key)


def _apply_one(catalog: Catalog, stmt: Statement) -> Catalog:
    """One statement as a new set of rows for the tables it touches:
    the kept rows in their order, then any appended rows."""
    rows = catalog.rows
    p = stmt.params
    if stmt.op == "create_user":
        return catalog.with_rows(
            users=_without(rows["users"], p["name"])
            + ((p["name"], p["auth_type"], p["password_sha256"]),)
        )
    if stmt.op == "drop_user":
        user = p["name"]
        # DROP USER cascades: the user's role grants, profile elements and
        # privilege grants disappear with it; quota apply lists shed the
        # name (documented choice — ClickHouse keeps quota objects).
        return catalog.with_rows(
            users=_without(rows["users"], user),
            role_grants=_without(rows["role_grants"], user),
            settings_profile_elements=_without(rows["settings_profile_elements"], user),
            grants=_without(rows["grants"], user),
            quotas=tuple(
                (name, tuple(u for u in apply_to if u != user))
                for name, apply_to in rows["quotas"]
            ),
        )
    if stmt.op == "alter_quota":
        if not any(name == p["quota"] for name, _ in rows["quotas"]):
            raise ApplyError(f"quota {p['quota']!r} does not exist")
        apply_to_list = tuple(p["apply_to_list"])
        return catalog.with_rows(
            quotas=tuple(
                (name, apply_to_list if name == p["quota"] else apply_to)
                for name, apply_to in rows["quotas"]
            )
        )
    if stmt.op == "set_profile":
        kept = _without(rows["settings_profile_elements"], p["user"])
        return catalog.with_rows(
            settings_profile_elements=kept + ((p["user"], p["profile"]),)
        )
    if stmt.op == "create_role":
        kept = _without(rows["roles"], p["role"])
        return catalog.with_rows(roles=kept + ((p["role"],),))
    if stmt.op == "grant_roles":
        # WITH REPLACE OPTION drops every role the user holds
        kept = tuple(
            (user, role)
            for user, role in rows["role_grants"]
            if user != p["user"] or (not p["replace"] and role not in p["roles"])
        )
        return catalog.with_rows(
            role_grants=kept + tuple((p["user"], r) for r in p["roles"])
        )
    if stmt.op == "revoke_role":
        return catalog.with_rows(
            role_grants=tuple(
                r for r in rows["role_grants"] if r != (p["user"], p["role"])
            )
        )
    if stmt.op in ("grant_privs", "revoke_privs"):
        grantee = p["grantee"]
        # WITH REPLACE OPTION replaces ALL existing grants of the grantee
        replace_all = p.get("replace", False)
        on = (p["database"], p["table"])

        def covered(r: tuple) -> bool:
            return r[0] == grantee and (
                replace_all or ((r[2], r[3]) == on and r[1] in p["privileges"])
            )

        kept = tuple(r for r in rows["grants"] if not covered(r))
        if stmt.op == "grant_privs":
            kept += tuple((grantee, priv, *on) for priv in p["privileges"])
        return catalog.with_rows(grants=kept)
    raise ApplyError(f"unknown statement op: {stmt.op}")


# ------------------------------------------------------------- reconcile
def reconcile_user(catalog: Catalog, check_mode: bool = False, **spec):
    """plan + apply + report for one user spec. With ``check_mode`` the
    plan is returned WITHOUT applying — and unlike the reference's check
    mode (F3), it is the real diff."""
    stmts = plan_user(catalog, **spec)
    status = {"user_exists": insp.user_exists(catalog, spec["user"])}
    if not check_mode:
        catalog = apply_statements(catalog, stmts)
    return catalog, ReconcileResult(
        changed=bool(stmts),
        run_queries=[s.reported_sql for s in stmts],
        user_status=status,
    )


def reconcile_roles(catalog: Catalog, check_mode: bool = False, **spec):
    stmts = plan_roles(catalog, **spec)
    grantee = spec["grantee"]
    user_roles = insp.get_user_roles(catalog, grantee)
    # F5: status reported on revoke path too
    status = {
        "user_roles": user_roles,
        "user_has_roles": all(r in user_roles for r in spec["roles"]),
    }
    if not check_mode:
        catalog = apply_statements(catalog, stmts)
    return catalog, ReconcileResult(
        changed=bool(stmts),
        run_queries=[s.reported_sql for s in stmts],
        user_status=status,
    )


def reconcile_grants(catalog: Catalog, check_mode: bool = False, **spec):
    stmts = plan_grants(catalog, **spec)
    if not check_mode:
        catalog = apply_statements(catalog, stmts)
    return catalog, ReconcileResult(
        changed=bool(stmts),
        run_queries=[s.reported_sql for s in stmts],
        user_status={"grantee": spec["grantee"]},
    )
