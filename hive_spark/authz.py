"""SQL-standard authorization statements (Hive's SQLStdAuth surface).

Implements the session-scoped role/privilege registry behind
CREATE/DROP ROLE, GRANT/REVOKE (both the role-grant and the
object-privilege forms), SET ROLE, and the SHOW ROLES / SHOW CURRENT
ROLES / SHOW ROLE GRANT / SHOW PRINCIPALS / SHOW GRANT readbacks.

ref: ql/src/java/org/apache/hadoop/hive/ql/security/authorization/
plugin/sqlstd/SQLStdHiveAccessController.java (role lifecycle + show
outputs), ql/.../parse/HiveAuthorizationTaskFactoryImpl.java (grammar).
Row-level enforcement lives in hive_spark/security.py (Ranger-style
masking/row-filter policies); this module is the metadata/registry half
— grants are recorded and queryable, with the same admin-role checks a
single-user local session can honestly make.
"""

from __future__ import annotations

import getpass
import re

from pyspark.sql import SparkSession

from hive_spark.session import state

_FIXED_TIME = 0  # qtest determinism: Hive prints epoch grant times


class AuthState:
    def __init__(self) -> None:
        self.roles: set[str] = {"public", "admin"}
        # role -> list of (principal_name, principal_type, admin_option)
        self.role_grants: dict[str, list[tuple[str, str, bool]]] = {
            "admin": [(getpass.getuser(), "USER", True)],
        }
        # (db, table, col) -> list of (principal, ptype, privilege,
        #                              grant_option, grantor)
        self.priv_grants: dict[tuple, list[tuple]] = {}
        self.current_roles: list[str] = ["public"]
        # (db, table) -> owner user (object creator has all privileges,
        # SQLStdHiveAuthorizationValidator's ownership short-circuit)
        self.owners: dict[tuple, str] = {}


def current_user() -> str:
    return getpass.getuser()


_CREATE_ROLE = re.compile(r"^\s*CREATE\s+ROLE\s+`?(\w+)`?\s*$", re.I)
_DROP_ROLE = re.compile(r"^\s*DROP\s+ROLE\s+`?(\w+)`?\s*$", re.I)
_SET_ROLE = re.compile(r"^\s*SET\s+ROLE\s+`?(\w+)`?\s*$", re.I)
_SHOW_ROLES = re.compile(r"^\s*SHOW\s+ROLES\s*$", re.I)
_SHOW_CURRENT = re.compile(r"^\s*SHOW\s+CURRENT\s+ROLES\s*$", re.I)
_SHOW_ROLE_GRANT = re.compile(
    r"^\s*SHOW\s+ROLE\s+GRANT\s+(USER|GROUP|ROLE)\s+`?([\w@.-]+)`?\s*$", re.I
)
_SHOW_PRINCIPALS = re.compile(r"^\s*SHOW\s+PRINCIPALS\s+`?(\w+)`?\s*$", re.I)
# SHOW GRANT [principalName] [ON (ALL | [TABLE] obj)]
_SHOW_GRANT = re.compile(
    r"^\s*SHOW\s+GRANT"
    r"(?:\s+(USER|GROUP|ROLE)\s+`?([\w@.-]+)`?)?"
    r"(?:\s+ON\s+(?:(ALL)"
    r"|(?:(TABLE|DATABASE)\s+)?`?([\w.]+)`?(?:\s*\(([^)]*)\))?"
    r"(?:\s+PARTITION\s*\(([^)]*)\))?))?"
    r"\s*$",
    re.I,
)
# GRANT role[, role] TO principal[, ...] [WITH ADMIN OPTION]
_GRANT_ROLE = re.compile(
    r"^\s*GRANT\s+(`?\w+`?(?:\s*,\s*`?\w+`?)*)\s+TO\s+(.+?)"
    r"(\s+WITH\s+ADMIN\s+OPTION)?\s*$",
    re.I | re.S,
)
_REVOKE_ROLE = re.compile(
    r"^\s*REVOKE\s+(?:ADMIN\s+OPTION\s+FOR\s+)?"
    r"(`?\w+`?(?:\s*,\s*`?\w+`?)*)\s+FROM\s+(.+?)\s*$",
    re.I | re.S,
)
# GRANT priv[, priv] ON [TABLE|DATABASE] obj TO principal [WITH GRANT OPTION]
_PRIVS = (
    r"(?:SELECT|INSERT|UPDATE|DELETE|CREATE|DROP|ALTER|INDEX|LOCK"
    r"|SHOW_DATABASE|ALL(?:\s+PRIVILEGES)?)"
)
_GRANT_PRIV = re.compile(
    rf"^\s*GRANT\s+({_PRIVS}(?:\s*\([^)]*\))?"
    rf"(?:\s*,\s*{_PRIVS}(?:\s*\([^)]*\))?)*)\s+"
    r"ON\s+(?:(TABLE|DATABASE)\s+)?`?([\w.]+)`?"
    r"(?:\s+PARTITION\s*\(([^)]*)\))?\s+TO\s+(.+?)"
    r"(\s+WITH\s+GRANT\s+OPTION)?\s*$",
    re.I | re.S,
)
_REVOKE_PRIV = re.compile(
    rf"^\s*REVOKE\s+(?:GRANT\s+OPTION\s+FOR\s+)?({_PRIVS}(?:\s*\([^)]*\))?"
    rf"(?:\s*,\s*{_PRIVS}(?:\s*\([^)]*\))?)*)\s+"
    r"ON\s+(?:(TABLE|DATABASE)\s+)?`?([\w.]+)`?"
    r"(?:\s+PARTITION\s*\(([^)]*)\))?\s+FROM\s+(.+?)\s*$",
    re.I | re.S,
)


def _principals(text: str) -> list[tuple[str, str]]:
    """Parse `USER a, ROLE b, c` -> [(a,'USER'), (b,'ROLE'), (c,'USER')]."""
    out = []
    for item in text.split(","):
        toks = item.strip().split()
        if not toks:
            continue
        if len(toks) >= 2 and toks[0].upper() in ("USER", "GROUP", "ROLE"):
            out.append((toks[1].strip("`"), toks[0].upper()))
        else:
            out.append((toks[0].strip("`"), "USER"))
    return out


def _norm_part(spec: str | None) -> str:
    """Normalize a PARTITION (k='v', ...) spec to Hive's k=v/k=v form."""
    if not spec:
        return ""
    parts = []
    for kv in spec.split(","):
        if "=" not in kv:
            continue
        k, v = kv.split("=", 1)
        parts.append(f"{k.strip().strip('`').lower()}={v.strip().strip(chr(39))}")
    return "/".join(parts)


def _obj_key(spark: SparkSession, kind: str | None, name: str,
             cols: str | None, part: str | None = None) -> tuple:
    if kind and kind.upper() == "DATABASE":
        return (name.lower(), "", (cols or "").lower(), "")
    if "." in name:
        db, tbl = name.rsplit(".", 1)
    else:
        db, tbl = spark.catalog.currentDatabase(), name
    return (
        db.lower(),
        tbl.lower(),
        (cols or "").replace(" ", "").lower(),
        _norm_part(part),
    )


def handle(spark: SparkSession, stmt: str):
    """Execute an authorization statement. Returns a DataFrame for SHOW
    forms, True for handled commands, None if `stmt` is not an auth
    statement (caller falls through)."""
    st = state(spark).auth
    m = _CREATE_ROLE.match(stmt)
    if m:
        role = m.group(1).lower()
        if role in ("all", "default", "none"):
            raise ValueError(f"CREATE ROLE: {role} is a reserved role name")
        st.roles.add(role)
        return True
    m = _DROP_ROLE.match(stmt)
    if m:
        role = m.group(1).lower()
        if role in ("public", "admin"):
            raise ValueError(f"DROP ROLE: cannot drop built-in role {role}")
        st.roles.discard(role)
        st.role_grants.pop(role, None)
        st.current_roles = [r for r in st.current_roles if r != role]
        return True
    m = _SET_ROLE.match(stmt)
    if m:
        role = m.group(1).lower()
        if role == "all":
            user = current_user()
            st.current_roles = ["public"] + sorted(
                r for r, gs in st.role_grants.items()
                if any(p == user for p, _, _ in gs)
            )
        elif role == "none":
            st.current_roles = ["public"]
        else:
            if role not in st.roles:
                raise ValueError(f"SET ROLE: role {role} does not exist")
            # SQLStdHiveAccessController.setCurrentRole: a user may only
            # assume roles granted to them (public is implicit)
            user = current_user()
            if role != "public" and not any(
                p == user
                for p, t, _adm in st.role_grants.get(role, [])
                if t == "USER"
            ):
                raise ValueError(
                    f"SET ROLE: {user} doesn't belong to role {role}"
                )
            st.current_roles = [role]
        return True
    if _SHOW_ROLES.match(stmt):
        return spark.createDataFrame(
            [(r,) for r in sorted(st.roles)], "role string"
        )
    if _SHOW_CURRENT.match(stmt):
        return spark.createDataFrame(
            [(r,) for r in st.current_roles], "role string"
        )
    m = _SHOW_ROLE_GRANT.match(stmt)
    if m:
        ptype, pname = m.group(1).upper(), m.group(2)
        rows = [
            (role, False, _FIXED_TIME, current_user())
            for role, gs in sorted(st.role_grants.items())
            for p, t, _adm in gs
            if p == pname and t == ptype
        ]
        if ptype == "USER":  # public is implicit for every user
            rows.insert(0, ("public", False, _FIXED_TIME, current_user()))
        return spark.createDataFrame(
            rows,
            "role string, grant_option boolean, grant_time bigint,"
            " grantor string",
        )
    m = _SHOW_PRINCIPALS.match(stmt)
    if m:
        rows = [
            (p, t, adm, current_user(), "USER", _FIXED_TIME)
            for p, t, adm in st.role_grants.get(m.group(1).lower(), [])
        ]
        return spark.createDataFrame(
            rows,
            "principal_name string, principal_type string,"
            " grant_option boolean, grantor string, grantor_type string,"
            " grant_time bigint",
        )
    m = _SHOW_GRANT.match(stmt)
    if m and re.match(r"^\s*SHOW\s+GRANT\b", stmt, re.I):
        ptype = (m.group(1) or "").upper()
        pname = m.group(2)
        on_all, okind, obj, cols, pspec = (
            m.group(3), m.group(4), m.group(5), m.group(6), m.group(7),
        )
        rows = []
        for (db, tbl, col, part), grants in sorted(st.priv_grants.items()):
            if obj and not on_all:
                want = _obj_key(spark, okind, obj, cols, pspec)
                if (db, tbl) != want[:2]:
                    continue
                # Hive scopes the readback to the requested level: a
                # table-level SHOW GRANT lists table-level grants only;
                # column/partition grants appear for the matching
                # (col)/PARTITION spec query (authorization_2/3 goldens)
                if col != want[2]:
                    continue
                if part != want[3]:
                    continue
            for p, t, priv, gopt, grantor in grants:
                if pname and (p != pname or (ptype and t != ptype)):
                    continue
                rows.append(
                    (db, tbl, part, col, p, t, priv.upper(), gopt,
                     _FIXED_TIME, grantor)
                )
        return spark.createDataFrame(
            rows,
            "database string, table string, partition string, column string,"
            " principal_name string, principal_type string,"
            " privilege string, grant_option boolean, grant_time bigint,"
            " grantor string",
        )
    m = _GRANT_PRIV.match(stmt)
    if m:
        privs, kind, obj, pspec, to, gopt = m.groups()
        key = _obj_key(spark, kind, obj, None, pspec)
        for priv in privs.split(","):
            pr = re.sub(r"\s*\(.*\)", "", priv).strip().upper()
            pr = "ALL" if pr.startswith("ALL") else pr
            colm = re.search(r"\(([^)]*)\)", priv)
            k = key[:2] + (
                (colm.group(1).replace(" ", "").lower(),)
                if colm else (key[2],)
            ) + (key[3],)
            for p, t in _principals(to):
                st.priv_grants.setdefault(k, []).append(
                    (p, t, pr, bool(gopt), current_user())
                )
        return True
    m = _REVOKE_PRIV.match(stmt)
    if m:
        privs, kind, obj, pspec, frm = m.groups()
        key = _obj_key(spark, kind, obj, None, pspec)
        wanted = {
            re.sub(r"\s*\(.*\)", "", p).strip().upper() for p in privs.split(",")
        }
        wanted = {"ALL" if w.startswith("ALL") else w for w in wanted}
        who = dict(_principals(frm))
        for k in [k for k in st.priv_grants if k[:2] == key[:2]]:
            # a partition-scoped REVOKE touches only that partition's
            # grants; a table-level REVOKE clears every scope (Hive's
            # revokePrivileges drops the whole privilege subtree)
            if pspec and k[3] != key[3]:
                continue
            st.priv_grants[k] = [
                g for g in st.priv_grants[k]
                if not (g[0] in who and (g[2] in wanted or "ALL" in wanted))
            ]
            if not st.priv_grants[k]:
                del st.priv_grants[k]
        return True
    m = _GRANT_ROLE.match(stmt)
    if m:
        roles, to, adm = m.groups()
        names = [r.strip().strip("`").lower() for r in roles.split(",")]
        unknown = [r for r in names if r not in st.roles]
        if unknown:
            return None  # not a role grant (e.g. unparsed priv form)
        for role in names:
            for p, t in _principals(to):
                st.role_grants.setdefault(role, []).append((p, t, bool(adm)))
        return True
    m = _REVOKE_ROLE.match(stmt)
    if m:
        roles, frm = m.groups()
        names = [r.strip().strip("`").lower() for r in roles.split(",")]
        if not all(r in st.roles for r in names):
            return None
        who = dict(_principals(frm))
        for role in names:
            st.role_grants[role] = [
                g for g in st.role_grants.get(role, []) if g[0] not in who
            ]
        return True
    return None


# ---------------------------------------------------------------------------
# Privilege ENFORCEMENT on the query path (r5). Hive gates compiled plans
# through SQLStdHiveAuthorizationValidator.checkPrivileges (ref: ql/.../
# security/authorization/plugin/sqlstd/SQLStdHiveAuthorizationValidator.java);
# the analog here resolves a statement's input/output tables from Spark's
# UNRESOLVED parse plan (no execution) and requires the matching grant.
# Off by default — enable with SET hive.security.authorization.enabled=true
# (the reference's own conf key), so single-user flows are untouched.


class HiveAccessControlError(PermissionError):
    """Analog of HiveAccessControlException."""


def enforcement_enabled(spark: SparkSession) -> bool:
    try:
        return (
            spark.conf.get("hive.security.authorization.enabled", "false")
            .lower()
            == "true"
        )
    except Exception:
        return False


def record_owner(spark: SparkSession, name: str) -> None:
    """Remember the creator of a table/view; owners pass all checks on
    their own objects (StorageBasedAuthorizationProvider ownership)."""
    st = state(spark).auth
    if "." in name:
        db, tbl = name.rsplit(".", 1)
    else:
        db, tbl = spark.catalog.currentDatabase(), name
    st.owners[(db.lower(), tbl.strip("`").lower())] = current_user()


def _statement_relations(spark: SparkSession, stmt: str) -> set:
    """Table names referenced by `stmt`, from the unresolved parse plan
    (subquery plans included — treeString renders them). Returns a set
    of dotted names exactly as written; resolution happens in the
    privilege check."""
    try:
        jplan = (
            spark._jsparkSession.sessionState().sqlParser().parsePlan(stmt)
        )
        tree = jplan.treeString()
    except Exception:
        return set()  # engine-dialect statements Spark can't parse
    names = set()
    for m in re.finditer(r"'UnresolvedRelation \[([^\]]*)\]", tree):
        parts = [p.strip() for p in m.group(1).split(",")]
        names.add(".".join(parts))
    return names


_WRITE_TARGET = re.compile(
    r"(?i)^\s*(?:"
    r"INSERT\s+(?:INTO|OVERWRITE)\s+(?:TABLE\s+)?`?([\w.]+)`?"
    r"|UPDATE\s+`?([\w.]+)`?"
    r"|DELETE\s+FROM\s+`?([\w.]+)`?"
    r"|MERGE\s+INTO\s+`?([\w.]+)`?"
    r"|LOAD\s+DATA\s+(?:LOCAL\s+)?INPATH\s+\S+\s+(?:OVERWRITE\s+)?"
    r"INTO\s+TABLE\s+`?([\w.]+)`?"
    r")"
)
_WRITE_PRIV = {1: "INSERT", 2: "UPDATE", 3: "DELETE", 4: "UPDATE",
               5: "INSERT"}


def _resolve(spark: SparkSession, name: str) -> tuple:
    if "." in name:
        db, tbl = name.rsplit(".", 1)
    else:
        db, tbl = spark.catalog.currentDatabase(), name
    return (db.lower(), tbl.strip("`").lower())


def _has_priv(st: AuthState, db: str, tbl: str, priv: str) -> bool:
    """True when the current user (directly or via a CURRENT role) holds
    `priv` on (db, tbl) — table-level or database-level, whole-object
    grants only (column grants don't authorize the full table)."""
    user = current_user()
    principals = {(user, "USER"), ("public", "ROLE")} | {
        (r, "ROLE") for r in st.current_roles
    }
    for key in ((db, tbl, "", ""), (db, "", "", "")):
        for p, t, pr, _gopt, _grantor in st.priv_grants.get(key, []):
            if (p, t if t != "GROUP" else "USER") in principals or (
                (p, t) in principals
            ):
                if pr == "ALL" or pr == priv:
                    return True
    return False


def _is_gated_object(spark: SparkSession, db: str, tbl: str) -> bool:
    """True for metastore tables/views; temp views/tables and CTE
    aliases are session-local and Hive doesn't gate them — including
    when referenced with a db qualifier (Hive qtests DROP temp tables
    as `auth_db.auth_temp_table_1`)."""
    try:
        if any(
            t.name == tbl and t.isTemporary
            for t in spark.catalog.listTables()
        ):
            return False
        if not spark.catalog.tableExists(f"{db}.{tbl}") and not (
            spark.catalog.tableExists(tbl)
        ):
            return False
    except Exception:
        return False
    return True


# EXPLAIN authorizes like the statement it wraps (Hive runs SQLStd authz
# at compile time, and EXPLAIN ANALYZE actually EXECUTES the query)
_EXPLAIN_HEAD = re.compile(
    r"(?i)^\s*EXPLAIN\s+(?:(?:ANALYZE|EXTENDED|FORMATTED|DEPENDENCY|"
    r"LOGICAL|AUTHORIZATION|DDL|CBO|COST|LOCKS|AST|"
    r"VECTORIZATION(?:\s+(?:ONLY|SUMMARY|OPERATOR|EXPRESSION|DETAIL))*)\s+)*"
)
_EXECUTE_HEAD = re.compile(r"(?i)^\s*EXECUTE\s+`?(\w+)`?")

# DDL that SQLStdHiveAuthorizationValidator gates on object OWNERSHIP
# (or the admin role): ALTER/DROP/TRUNCATE — including partial DROP
# PARTITION and EXCHANGE PARTITION, which arrive as ALTER TABLE
_DDL_OWNER = re.compile(
    r"(?i)^\s*(?:"
    r"ALTER\s+(?:TABLE|VIEW|MATERIALIZED\s+VIEW)\s+`?([\w.]+)`?"
    r"|DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?`?([\w.]+)`?"
    r"|DROP\s+(?:MATERIALIZED\s+)?VIEW\s+(?:IF\s+EXISTS\s+)?`?([\w.]+)`?"
    r"|TRUNCATE\s+(?:TABLE\s+)?`?([\w.]+)`?"
    r")"
)
_DDL_DB_OWNER = re.compile(
    r"(?i)^\s*(?:ALTER|DROP)\s+(?:DATABASE|SCHEMA)\s+"
    r"(?:IF\s+EXISTS\s+)?`?([\w]+)`?"
)
_EXPORT_RE = re.compile(r"(?i)^\s*EXPORT\s+TABLE\s+`?([\w.]+)`?")
_IMPORT_RE = re.compile(
    r"(?i)^\s*IMPORT\s+(?:EXTERNAL\s+)?(?:TABLE\s+)?`?([\w.]+)`?"
)


def _resolve_existing(spark: SparkSession, name: str) -> tuple:
    """Like _resolve, but when the qualified name doesn't exist while
    the bare name does (Hive temp-table shadowing — qtests DROP temp
    tables as `db.temp_name`; this engine maps temp tables to managed
    tables in the CURRENT db), gate the object that will actually be
    acted on."""
    db, tbl = _resolve(spark, name)
    try:
        if not spark.catalog.tableExists(f"{db}.{tbl}") and (
            spark.catalog.tableExists(tbl)
        ):
            db = spark.catalog.currentDatabase().lower()
    except Exception:
        pass
    return db, tbl


def _deny(user: str, denied: list, op: str) -> None:
    objs = "], [".join(f"{pr}] on Object [type=TABLE_OR_VIEW, "
                       f"name={nm}" for pr, nm in sorted(denied))
    raise HiveAccessControlError(
        f"Permission denied: Principal [name={user}, type=USER] does"
        f" not have following privileges for operation {op} [[{objs}]]"
    )


def check_statement(
    spark: SparkSession, stmt: str, prepared: dict | None = None
) -> None:
    """Raise HiveAccessControlError unless the current principal set may
    run `stmt`. No-op when enforcement is disabled (default).

    Runs ONCE at the top of the per-statement loop (r6 ADVICE: checking
    late in the handler chain let EXPLAIN ANALYZE, EXECUTE, EXPORT/
    IMPORT, partition DDL and LOAD DATA bypass enforcement entirely).
    ``prepared`` maps prepared-statement names to their SQL so EXECUTE
    is authorized against the statement it runs."""
    if not enforcement_enabled(spark):
        return
    st = state(spark).auth
    if "admin" in st.current_roles:
        return  # admin role active: all privileges (SQLStdAuth)
    user = current_user()

    body = stmt
    em = _EXECUTE_HEAD.match(body)
    if em and prepared:
        body = prepared.get(em.group(1).lower(), body)
    body = _EXPLAIN_HEAD.sub("", body, count=1)

    dbm = _DDL_DB_OWNER.match(body)
    if dbm:
        # SQLStdHiveAuthorizationValidator: ALTER/DROP DATABASE needs
        # database ownership (or admin, handled above). A database with
        # no recorded owner predates enforcement — not gated.
        db = dbm.group(1).lower()
        owner = st.owners.get((db, ""))
        if owner is not None and owner != user:
            _deny(user, [("OBJECT OWNERSHIP", db)],
                  body.split(None, 1)[0].upper())
        return
    dm = _DDL_OWNER.match(body)
    if dm:
        name = next(g for g in dm.groups() if g)
        db, tbl = _resolve_existing(spark, name)
        if (
            _is_gated_object(spark, db, tbl)
            and st.owners.get((db, tbl)) != user
        ):
            _deny(user, [("OBJECT OWNERSHIP", f"{db}.{tbl}")],
                  body.split(None, 1)[0].upper())
        return
    xm = _EXPORT_RE.match(body)
    im = _IMPORT_RE.match(body) if not xm else None
    if xm or im:
        # EXPORT reads the table (SELECT); IMPORT writes it (INSERT)
        name, need = (xm.group(1), "SELECT") if xm else (im.group(1), "INSERT")
        db, tbl = _resolve_existing(spark, name)
        gated = _is_gated_object(spark, db, tbl)
        # IMPORT may create the target — a nonexistent target is a
        # CREATE, which SQLStd allows to any user in the default db
        if gated and st.owners.get((db, tbl)) != user and not _has_priv(
            st, db, tbl, need
        ):
            _deny(user, [(need, f"{db}.{tbl}")], "EXPORT" if xm else "IMPORT")
        return

    wm = _WRITE_TARGET.match(body)
    write_name, write_priv = None, None
    if wm:
        gi = next(i for i in range(1, 6) if wm.group(i))
        write_name, write_priv = wm.group(gi), _WRITE_PRIV[gi]
    names = _statement_relations(spark, body)
    if write_name:
        # LOAD DATA (and other writes Spark's parser renders without an
        # UnresolvedRelation) still gates the write-target table
        names.add(write_name)
    denied = []
    for name in names:
        db, tbl = _resolve_existing(spark, name)
        if not _is_gated_object(spark, db, tbl):
            continue
        if st.owners.get((db, tbl)) == user:
            continue
        need = (
            write_priv
            if write_name and _resolve(spark, write_name) == (db, tbl)
            else "SELECT"
        )
        if not _has_priv(st, db, tbl, need):
            denied.append((need, f"{db}.{tbl}"))
    if denied:
        _deny(user, denied, "QUERY")
