"""Workload definitions: which ops each workload runs, in what seeded
order, and the generated ``warehouse_ops`` script with the plain-Python
model of what it must produce.

An op is one query written to the ``noop`` sink, one warehouse
statement, or one reconcile call. Every workload is a closed loop with
one client: an op starts only after the previous one has completed.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

# Query ops per workload, by registry name. Why each workload was chosen
# and the layer predictions are in README.md and BENCHMARK.json.
QUERY_WORKLOADS: dict[str, list[str]] = {
    "olap_llm": [
        # JVM-only: planning, scan, shuffle, a stateful stream replay
        "q_join_multiway",
        "q_stream_joinss",
        # Python workers and Arrow kernels behind the fan-out sites
        "q_text_contaminate",
        "q_agg_quantile_filter",
    ],
}
WORKLOADS = [*QUERY_WORKLOADS, "warehouse_ops"]
# A run times a fixed number of passes, so that every run of a workload
# measures the same work at the same stage of the JVM's warm-up, however
# busy the host is: a time-boxed loop would fit fewer passes on a slow
# host and time them earlier in the warm-up, which is slower still. The
# engine keeps getting faster for about five passes after the
# correctness pass (JIT compilation). The count is --seconds divided by
# the nominal pass time on an idle 4-vCPU host, at least MIN_PASSES, so
# that the per-slot median of ``stats.pass_time`` has a middle sample.
PASS_S = {"olap_llm": 3.5, "warehouse_ops": 6.5}
MIN_PASSES = 3


def timed_passes(workload: str, seconds: float) -> int:
    return max(MIN_PASSES, round(seconds / PASS_S[workload]))


def pass_rng(seed: int, workload: str, pass_no: int) -> random.Random:
    """Independent, reproducible stream per (seed, workload, pass)."""
    key = hashlib.sha256(f"{seed}:{workload}:{pass_no}".encode()).digest()
    return random.Random(int.from_bytes(key[:8], "big"))


def query_order(seed: int, workload: str, pass_no: int) -> list[str]:
    names = list(QUERY_WORKLOADS[workload])
    pass_rng(seed, workload, pass_no).shuffle(names)
    return names


# ------------------------------------------------------- warehouse_ops

KINDS = ["click", "view", "buy", "cart"]
ROLES = ["reader_role", "writer_role", "etl_role", "audit_role", "ops_role",
         "bi_role"]
PRIVS = ["SELECT", "INSERT", "SHOW", "ALTER"]
TABLES = ["events", "orders", "lineitem"]
USERS_PER_TABLE = 12
ROWS_PER_INSERT = 40


@dataclass
class WhOp:
    """One warehouse statement or reconcile call.

    ``kind``: ``ddl`` | ``insert`` | ``mutation`` | ``select`` |
    ``reconcile``. For ``select`` the model fills ``expect`` (a sorted
    list of row tuples); for ``reconcile`` ``call`` names the function,
    ``spec`` its keyword arguments and ``repeat`` marks the second,
    converged call of the same spec.
    """

    kind: str
    sql: str = ""
    call: str = ""
    spec: dict = field(default_factory=dict)
    repeat: bool = False
    expect: list | None = None


class TableModel:
    """Expected rows of one warehouse table: id -> [user, kind, amt, qty]."""

    def __init__(self) -> None:
        self.rows: dict[int, list] = {}

    def insert(self, rows: list[tuple]) -> None:
        for rid, user, kind, amt, qty in rows:
            self.rows[rid] = [user, kind, amt, qty]

    def update_amt(self, delta: int, kind: str) -> None:
        for r in self.rows.values():
            if r[1] == kind:
                r[2] += delta

    def delete_qty_below(self, q: int) -> None:
        self.rows = {k: v for k, v in self.rows.items() if v[3] >= q}


def _sorted(rows) -> list[tuple]:
    return sorted(tuple(r) for r in rows)


def warehouse_pass(seed: int, pass_no: int) -> list[WhOp]:
    """The ops of one ``warehouse_ops`` pass, with expected results.

    Every pass has the same shape (statement kinds, counts and row
    volume); the seed picks the values, names and reconcile specs. Table
    and user names carry the pass number, so each pass works on fresh
    objects and ends by dropping its tables."""
    rng = pass_rng(seed, "warehouse_ops", pass_no)
    t = f"ev_{pass_no}"
    users = [f"u{i}" for i in range(USERS_PER_TABLE)]
    model = TableModel()
    ops: list[WhOp] = []
    next_id = [0]

    def insert() -> None:
        rows = []
        for _ in range(ROWS_PER_INSERT):
            rows.append(
                (
                    next_id[0],
                    rng.choice(users),
                    rng.choice(KINDS),
                    rng.randrange(1000),
                    rng.randrange(1, 21),
                )
            )
            next_id[0] += 1
        model.insert(rows)
        values = ", ".join(
            f"({i}, '{u}', '{k}', {a}, {q})" for i, u, k, a, q in rows
        )
        ops.append(WhOp("insert", f"INSERT INTO {t} VALUES {values}"))

    def by_kind() -> None:
        x = rng.randrange(200, 800)
        groups: dict[str, list] = {}
        for user, kind, amt, _q in model.rows.values():
            groups.setdefault(kind, []).append((user, amt))
        expect = [
            (k, len(v), sum(1 for _u, a in v if a >= x), len({u for u, _a in v}))
            for k, v in groups.items()
        ]
        ops.append(
            WhOp(
                "select",
                f"SELECT kind, count() AS n, countIf(amt >= {x}) AS n_big, "
                f"uniqExact(user) AS users FROM {t} GROUP BY kind "
                f"ORDER BY kind",
                expect=_sorted(expect),
            )
        )

    def top_by_user() -> None:
        n = rng.randrange(1, 4)
        per: dict[str, list] = {}
        for rid, (user, _k, amt, _q) in model.rows.items():
            per.setdefault(user, []).append((amt, rid))
        expect = []
        for user, vals in per.items():
            vals.sort(key=lambda v: (-v[0], v[1]))
            expect += [(user, rid, amt) for amt, rid in vals[:n]]
        ops.append(
            WhOp(
                "select",
                f"SELECT user, id, amt FROM {t} "
                f"ORDER BY user, amt DESC, id LIMIT {n} BY user",
                expect=_sorted(expect),
            )
        )

    def user_ids() -> None:
        u = rng.choice(users)
        mine = sorted(
            (rid, r[2]) for rid, r in model.rows.items() if r[0] == u
        )[:5]
        ops.append(
            WhOp(
                "select",
                f"SELECT toString(id) AS sid, amt FROM {t} "
                f"WHERE user = '{u}' ORDER BY id LIMIT 5",
                expect=_sorted((str(rid), amt) for rid, amt in mine),
            )
        )

    def totals() -> None:
        amts = [r[2] for r in model.rows.values()]
        ops.append(
            WhOp(
                "select",
                f"SELECT count() AS n, sum(amt) AS total FROM {t}",
                expect=[(len(amts), sum(amts) if amts else None)],
            )
        )

    def update() -> None:
        d, k = rng.randrange(1, 50), rng.choice(KINDS)
        model.update_amt(d, k)
        ops.append(
            WhOp(
                "mutation",
                f"ALTER TABLE {t} UPDATE amt = amt + {d} WHERE kind = '{k}'",
            )
        )

    def delete() -> None:
        q = rng.randrange(2, 4)
        model.delete_qty_below(q)
        ops.append(WhOp("mutation", f"ALTER TABLE {t} DELETE WHERE qty < {q}"))

    ops.append(
        WhOp(
            "ddl",
            f"CREATE TABLE {t} (id Int64, user String, kind String, "
            f"amt Int64, qty Int32) ENGINE = MergeTree ORDER BY (user, id)",
        )
    )
    insert()
    insert()
    by_kind()
    update()
    user_ids()
    delete()
    insert()
    top_by_user()
    totals()
    by_kind()
    user_ids()
    ops.append(WhOp("ddl", f"DROP TABLE {t}"))
    ops.extend(reconcile_ops(rng, pass_no))
    return ops


def reconcile_specs(rng: random.Random, pass_no: int) -> list[tuple[str, dict]]:
    """Seeded specs for one convergence: a new user with a password, two
    roles, the demo quota and profile; two more roles for that user; two
    privileges on two tables. The seed picks names and values; every
    seed plans the same number of statements of each kind."""
    user = f"bu{pass_no}"
    roles = rng.sample(ROLES, 4)
    return [
        (
            "reconcile_user",
            {
                "user": user,
                "password": "%016x" % rng.getrandbits(64),
                "roles": sorted(roles[:2]),
                "init_roles": True,
                "quota": "test_quota",
                "profile": "custom_profile",
            },
        ),
        (
            "reconcile_roles",
            {"grantee": user, "roles": sorted(roles[2:]), "init_roles": True},
        ),
        (
            "reconcile_grants",
            {
                "grantee": user,
                "grants_list": sorted(rng.sample(PRIVS, 2)),
                "databases": ["analytics"],
                "tables": sorted(rng.sample(TABLES, 2)),
            },
        ),
    ]


def reconcile_ops(rng: random.Random, pass_no: int) -> list[WhOp]:
    specs = reconcile_specs(rng, pass_no)
    first = [WhOp("reconcile", call=c, spec=s) for c, s in specs]
    again = [WhOp("reconcile", call=c, spec=s, repeat=True) for c, s in specs]
    return first + again


class CatalogModel:
    """Expected reconcile catalog state, starting from ``Catalog.demo``.

    Mirrors the engine's documented semantics: users/roles plans diff
    before writing, so a repeated spec must plan nothing; the grants
    branch re-emits its GRANT unconditionally (the reference's grants
    module has no diff step), so a repeated grant must leave the state
    unchanged instead."""

    def __init__(self) -> None:
        self.users = {"db_admin", "app_user"}
        self.role_grants = {
            ("db_admin", "db_admin_role"),
            ("app_user", "reader_role"),
        }
        self.profiles = {("app_user", "custom_profile")}
        self.quotas = {"test_quota": ["app_user"]}
        self.roles = {"db_admin_role", "reader_role", "writer_role"}
        self.grants = {("app_user", "SELECT", "analytics", "*")}

    def apply(self, call: str, spec: dict) -> None:
        if call == "reconcile_user":
            self.users.add(spec["user"])
            if spec.get("quota"):
                lst = self.quotas[spec["quota"]]
                if spec["user"] not in lst:
                    lst.append(spec["user"])
            if spec.get("profile"):
                self.profiles = {
                    p for p in self.profiles if p[0] != spec["user"]
                } | {(spec["user"], spec["profile"])}
            self.roles |= set(spec["roles"])
            self.role_grants |= {(spec["user"], r) for r in spec["roles"]}
        elif call == "reconcile_roles":
            self.roles |= set(spec["roles"])
            self.role_grants |= {(spec["grantee"], r) for r in spec["roles"]}
        elif call == "reconcile_grants":
            for db in spec["databases"]:
                for tb in spec["tables"]:
                    self.grants |= {
                        (spec["grantee"], p, db, tb) for p in spec["grants_list"]
                    }
        else:
            raise ValueError(call)

    def expected_empty_repeat(self, call: str) -> bool:
        return call != "reconcile_grants"

    def state(self) -> dict[str, list]:
        return {
            "users": sorted(self.users),
            "role_grants": sorted(self.role_grants),
            "settings_profile_elements": sorted(self.profiles),
            "quotas": sorted((k, tuple(v)) for k, v in self.quotas.items()),
            "roles": sorted(self.roles),
            "grants": sorted(self.grants),
        }


def warm_warehouse_pass() -> list[WhOp]:
    """The untimed warm pass: CREATE, the first INSERT and SELECT, DROP
    and the first reconcile call of a fixed-seed pass."""
    keep: list[WhOp] = []
    seen: set[str] = set()
    for o in warehouse_pass(0, 999_999):
        if o.kind == "mutation":
            continue
        if o.kind == "ddl" or o.kind not in seen:
            keep.append(o)
            seen.add(o.kind)
    return keep
