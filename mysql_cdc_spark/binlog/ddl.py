"""DDL-driven schema evolution (beyond-reference).

MySQL writes ``ALTER TABLE`` statements into the binlog as QUERY events
(autocommit DDL). The reference surfaces them as ``QueryEvent``
(`src/events/query_event.rs:1-40`) and treats them only as transaction
boundaries (`src/binlog_client.rs:88-95`) — schema tracking is left to
user code. With ``binlog_row_metadata=FULL`` the following TABLE_MAP
carries column names, so additive evolution is discoverable from
metadata alone (``decoder.discover_columns``). But the server DEFAULT is
``binlog_row_metadata=MINIMAL``: TABLE_MAP then carries column *types*
but no *names*, and the only in-stream record of an added column's name
is the DDL text itself. Debezium and Maxwell solve this with a DDL
parser feeding a schema registry; this module is that step for the
additive evolution the north star requires ("new columns like tool").

Scope: **additive** ``ALTER TABLE ... ADD COLUMN`` plus **widening**
``MODIFY COLUMN`` / same-name ``CHANGE`` (the Iceberg type-promotion
rule: int-family growth, string-family growth, equal-scale DECIMAL
precision growth — value-preserving at a stable position and decode
kind). Any other clause (DROP/RENAME COLUMN, narrowing or
kind-changing MODIFY, column moves) on the *tracked* table raises
``UnsupportedDdl`` — silently mis-decoding rows against a stale spec
would corrupt state; failing loudly is the only safe behavior. DDL on
other tables is ignored.

Scale shape: the DDL scan is a metadata-only pass over
``reader.iter_frames``, like ``decoder.scan_table_maps`` — it parses
QUERY payloads only (row payloads are never decoded), so at 10^10
events it is I/O-bound and ~free next to decode. The fold of
ALTER statements into a spec happens on the driver over the handful of
DDL rows (a table's lifetime carries tens of ALTERs, not millions).
"""

from __future__ import annotations

import re
import warnings
from dataclasses import dataclass, replace

from .constants import EventType
from .reader import iter_frames, parse_query


class UnsupportedDdl(ValueError):
    """A DDL statement on the tracked table that additive/widening
    evolution cannot represent (DROP/RENAME COLUMN, narrowing or
    kind-changing MODIFY/CHANGE, column moves, etc.)."""


@dataclass(frozen=True)
class AddColumn:
    name: str
    type_text: str  # the MySQL type as written, e.g. "VARCHAR(64)"
    spark_ddl: str  # TableSpec column DDL, e.g. "string"
    kind: str  # TableSpec decode kind, e.g. "str"
    first: bool = False  # ADD COLUMN ... FIRST
    after: str | None = None  # ADD COLUMN ... AFTER <col>
    # DEFAULT literal as SQL text ('... ' strings keep their quotes), or
    # None for no/NULL default. MySQL's instant ADD COLUMN backfills
    # existing rows with the default, so pre-ALTER events must decode the
    # column as this value — threaded into TableSpec.defaults.
    default: str | None = None
    # an expression default (CURRENT_TIMESTAMP, (uuid()), ...) — its
    # backfill value is the ALTER's execution-time result, which the
    # stream does not carry; unsupported on the tracked table
    default_is_expr: bool = False
    # NOT NULL without an explicit DEFAULT: MySQL backfills existing
    # rows with the type's IMPLICIT default ('' / 0), so pre-ALTER
    # events must decode the column as that value, not NULL
    not_null: bool = False


@dataclass(frozen=True)
class ModifyColumn:
    """``MODIFY COLUMN c <type>`` (or same-name ``CHANGE c c <type>``).
    Only *widening* retypes are applicable — see ``evolve_spec``."""

    name: str
    type_text: str
    spark_ddl: str
    kind: str
    first: bool = False
    after: str | None = None


@dataclass(frozen=True)
class AlterTable:
    database: str | None  # None = statement used the session default db
    table: str
    adds: tuple[AddColumn, ...]
    unsupported: tuple[str, ...]  # non-additive clause heads, e.g. ("DROP",)
    # column defs that failed to parse or map (e.g. ENUM/SET types) —
    # recorded, not raised, so DDL on *untracked* tables never crashes
    # discovery; evolve_spec raises iff the statement targets the
    # tracked table
    errors: tuple[str, ...] = ()
    modifies: tuple[ModifyColumn, ...] = ()


_IDENT = r"(?:`(?:[^`]|``)+`|[A-Za-z0-9_$]+)"


def _unquote(ident: str) -> str:
    if ident.startswith("`"):
        return ident[1:-1].replace("``", "`")
    return ident


# MySQL type (as written in DDL) → (spark_ddl, TableSpec kind). Matched
# case-insensitively on the type head; (p,s)/(n) captured where needed.
_TYPE_RULES: tuple[tuple[str, tuple[str, str] | None], ...] = (
    (r"(?:TINY|SMALL|MEDIUM|BIG)?INT(?:EGER)?\b(?:\s*\(\d+\))?", ("bigint", "int")),
    (r"(?:VAR)?CHAR\s*\(\d+\)", ("string", "str")),
    (r"(?:TINY|MEDIUM|LONG)?TEXT\b", ("string", "str")),
    (r"JSON\b", ("string", "json")),
    (r"VECTOR\b(?:\s*\(\d+\))?", ("array<float>", "vector")),  # MySQL 9
    (r"(?:DECIMAL|NUMERIC)\s*\(\s*(\d+)\s*(?:,\s*(\d+))?\s*\)", None),  # special
    (r"(?:DECIMAL|NUMERIC)\b", ("decimal(10,0)", "decimal")),
    (r"(?:FLOAT|DOUBLE(?:\s+PRECISION)?|REAL)\b(?:\s*\(\d+\s*,\s*\d+\))?", ("double", "double")),
    (r"DATETIME\b(?:\s*\(\d\))?", ("timestamp_ntz", "datetime")),
    (r"TIMESTAMP\b(?:\s*\(\d\))?", ("timestamp", "ts_millis")),
    (r"DATE\b", ("date", "date")),
    (r"TIME\b(?:\s*\(\d\))?", ("string", "time")),
    (r"(?:TINY|MEDIUM|LONG)?BLOB\b|(?:VAR)?BINARY\s*\(\d+\)|GEOMETRY\b", ("binary", "binary")),
)


def map_mysql_type(type_text: str) -> tuple[str, str]:
    """MySQL DDL type → (spark_ddl, TableSpec kind). Raises
    ``UnsupportedDdl`` for types the decode tier has no kind for
    (ENUM/SET need their value lists from TABLE_MAP metadata, which
    MINIMAL mode omits — an honest error beats a silent mis-decode)."""
    t = type_text.strip()
    for pattern, mapped in _TYPE_RULES:
        m = re.match(pattern, t, re.IGNORECASE)
        if m:
            if mapped is None:  # DECIMAL(p[,s])
                p = int(m.group(1))
                s = int(m.group(2) or 0)
                return (f"decimal({p},{s})", "decimal")
            return mapped
    raise UnsupportedDdl(f"unsupported column type in DDL: {type_text!r}")


# column attributes that may trail the type in an ADD COLUMN clause;
# consumed (not interpreted) so the clause boundary is found correctly
_ATTR = re.compile(
    # DEFAULT value forms: quoted string, MySQL 8 parenthesized
    # expression — possibly holding strings and one nested call level,
    # e.g. DEFAULT (uuid()) / DEFAULT (concat('a','b')) — or a bare
    # token with an optional call tail
    r"\s+(?:NOT\s+NULL|NULL|DEFAULT\s+(?:'(?:[^']|'')*'"
    r"|\((?:[^()']|'(?:[^']|'')*'|\([^()]*\))*\)"
    r"|[^,\s(]+(?:\([^)]*\))?)"
    r"|AUTO_INCREMENT|UNIQUE(?:\s+KEY)?|PRIMARY\s+KEY|COMMENT\s+'(?:[^']|'')*'"
    r"|COLLATE\s+\S+|CHARACTER\s+SET\s+\S+|AFTER\s+" + _IDENT + r"|FIRST"
    r"|INVISIBLE|VISIBLE"
    # decode-neutral attributes consumed (never interpreted): spatial
    # SRID, storage/format hints, CHECK constraints (strings and one
    # nested paren level; value decode is unaffected by any of them)
    r"|SRID\s+\d+|COLUMN_FORMAT\s+(?:FIXED|DYNAMIC|DEFAULT)"
    r"|STORAGE\s+(?:DISK|MEMORY)"
    r"|(?:CONSTRAINT\s+" + _IDENT + r"\s+)?CHECK\s*"
    r"\((?:[^()']|'(?:[^']|'')*'|\([^()]*\))*\)(?:\s+(?:NOT\s+)?ENFORCED)?"
    r"|ON\s+UPDATE\s+\S+(?:\([^)]*\))?)",
    re.IGNORECASE,
)

_ALTER_HEAD = re.compile(
    r"^\s*ALTER\s+(?:ONLINE\s+|OFFLINE\s+)?(?:IGNORE\s+)?TABLE\s+"
    r"(?:(" + _IDENT + r")\s*\.\s*)?(" + _IDENT + r")\s+",
    re.IGNORECASE,
)

_ADD_CLAUSE = re.compile(
    r"^ADD\s+(?:COLUMN\s+)?(?:IF\s+NOT\s+EXISTS\s+)?", re.IGNORECASE
)

_COLUMN_DEF = re.compile(
    r"^(" + _IDENT + r")\s+([A-Za-z]+(?:\s+PRECISION)?(?:\s*\([^)]*\))?)",
    re.IGNORECASE,
)

# clause heads additive evolution cannot apply to the tracked table
# (MODIFY/CHANGE are handled separately: widening retypes apply, the
# rest land here via parse_alter's explicit checks)
_UNSUPPORTED_HEAD = re.compile(
    r"^(DROP|RENAME|ALTER)\b", re.IGNORECASE
)

_MODIFY_CLAUSE = re.compile(r"^MODIFY\s+(?:COLUMN\s+)?", re.IGNORECASE)
_CHANGE_CLAUSE = re.compile(
    r"^CHANGE\s+(?:COLUMN\s+)?(" + _IDENT + r")\s+", re.IGNORECASE
)

# clause heads that are schema-neutral for decode (indexes, constraints,
# table options) — skipped
_NEUTRAL_HEAD = re.compile(
    r"^(ADD\s+(?:INDEX|KEY|CONSTRAINT|UNIQUE|PRIMARY|FULLTEXT|SPATIAL|FOREIGN)"
    r"|ENGINE|AUTO_INCREMENT|COMMENT|CONVERT|CHARACTER|COLLATE|DEFAULT"
    r"|ROW_FORMAT|ALGORITHM|LOCK|ORDER|DISABLE|ENABLE|FORCE|PARTITION)\b",
    re.IGNORECASE,
)


def _split_clauses(body: str) -> list[str]:
    """Split the ALTER body on top-level commas (commas inside parens or
    quoted strings don't split)."""
    out, depth, start, i, n = [], 0, 0, 0, len(body)
    while i < n:
        ch = body[i]
        if ch == "'":
            i += 1
            while i < n:
                if body[i] == "'":
                    if i + 1 < n and body[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif ch == "`":
            i += 1
            while i < n and body[i] != "`":
                i += 1
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(body[start:i].strip())
            start = i + 1
        i += 1
    tail = body[start:].strip()
    if tail:
        out.append(tail)
    return out


def _parse_column_defs(text: str) -> list[AddColumn]:
    """One or more ``name type [attrs]`` defs (the grouped
    ``ADD COLUMN (a int, b text)`` form passes several)."""
    cols = []
    for piece in _split_clauses(text):
        m = _COLUMN_DEF.match(piece.strip())
        if not m:
            raise UnsupportedDdl(f"cannot parse column definition: {piece!r}")
        name = _unquote(m.group(1))
        type_text = m.group(2).strip()
        spark_ddl, kind = map_mysql_type(type_text)
        cols.append(AddColumn(name, type_text, spark_ddl, kind))
    return cols


def parse_alter(sql: str) -> AlterTable | None:
    """Parse an ``ALTER TABLE`` statement. Returns None for any other
    statement (BEGIN, CREATE, inserts, ...). ADD COLUMN clauses are
    extracted; non-additive clause heads are *recorded* (not raised —
    the caller decides whether the statement targets the tracked
    table); schema-neutral clauses (indexes, table options) are skipped."""
    head = _ALTER_HEAD.match(sql)
    if not head:
        return None
    db = _unquote(head.group(1)) if head.group(1) else None
    table = _unquote(head.group(2))
    body = sql[head.end() :].strip().rstrip(";").strip()

    adds: list[AddColumn] = []
    modifies: list[ModifyColumn] = []
    unsupported: list[str] = []
    errors: list[str] = []
    for clause in _split_clauses(body):
        if not clause:
            continue
        madd = _ADD_CLAUSE.match(clause)
        if madd and not _NEUTRAL_HEAD.match(clause):
            rest = clause[madd.end() :].strip()
            try:
                if rest.startswith("("):  # grouped: ADD COLUMN (a int, b text)
                    # MySQL grammar allows no FIRST/AFTER in the grouped form
                    adds.extend(_parse_column_defs(rest[1 : rest.rindex(")")]))
                else:
                    base, first, after, default, is_expr, not_null = (
                        _strip_attrs(rest)
                    )
                    (col,) = _parse_column_defs(base)
                    adds.append(
                        replace(
                            col, first=first, after=after,
                            default=default, default_is_expr=is_expr,
                            not_null=not_null,
                        )
                    )
            except UnsupportedDdl as exc:
                # defer: DDL on untracked tables must not crash discovery
                errors.append(str(exc))
            continue
        if _NEUTRAL_HEAD.match(clause):
            continue
        mmod = _MODIFY_CLAUSE.match(clause)
        mchg = None if mmod else _CHANGE_CLAUSE.match(clause)
        if mmod or mchg:
            # CHANGE old new <type> is a MODIFY iff old == new; a true
            # rename re-maps names positionally and stays unsupported
            rest = clause[(mmod or mchg).end() :].strip()
            try:
                # MODIFY's DEFAULT changes future inserts only (no
                # backfill of existing rows) — extracted and dropped
                base, first, after, _default, _is_expr, _nn = _strip_attrs(rest)
                (col,) = _parse_column_defs(base)
                if mchg and _unquote(mchg.group(1)) != col.name:
                    unsupported.append("CHANGE")
                    continue
                modifies.append(
                    ModifyColumn(
                        col.name, col.type_text, col.spark_ddl, col.kind,
                        first=first, after=after,
                    )
                )
            except UnsupportedDdl as exc:
                errors.append(str(exc))
            continue
        mu = _UNSUPPORTED_HEAD.match(clause)
        if mu:
            unsupported.append(mu.group(1).upper())
            continue
        unsupported.append(clause.split(None, 1)[0].upper())
    return AlterTable(
        db, table, tuple(adds), tuple(unsupported), tuple(errors),
        tuple(modifies),
    )


_AFTER_ATTR = re.compile(r"\s+AFTER\s+(" + _IDENT + r")", re.IGNORECASE)
_FIRST_ATTR = re.compile(r"\s+FIRST\b", re.IGNORECASE)
_DEFAULT_ATTR = re.compile(r"\s+DEFAULT\s+(.+)", re.IGNORECASE | re.DOTALL)
_LITERAL_DEFAULT = re.compile(
    r"^(?:'(?:[^']|'')*'|[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?|TRUE|FALSE)$",
    re.IGNORECASE,
)


_NOT_NULL_ATTR = re.compile(r"\s+NOT\s+NULL\b", re.IGNORECASE)

# implicit defaults MySQL backfills for NOT-NULL-without-DEFAULT adds,
# as SQL literals (kinds absent here — temporal zero-dates, JSON,
# VECTOR — have no lake-representable implicit default and are refused)
_IMPLICIT_DEFAULTS: dict[str, str] = {
    "int": "0",
    "decimal": "0",
    "double": "0",
    "str": "''",
    "binary": "''",
}


def _strip_attrs(
    coldef: str,
) -> tuple[str, bool, str | None, str | None, bool, bool]:
    """Trim trailing column attributes so only ``name type`` remains;
    return (base, first, after, default, default_is_expr, not_null) with
    any FIRST / AFTER <col> placement, DEFAULT value, and NOT NULL flag
    extracted (none is discarded — mid-table insertion changes positional
    decode for MINIMAL-metadata streams, an instant ADD COLUMN's DEFAULT
    is what pre-ALTER events must decode the column as, and NOT NULL
    without DEFAULT implies the type's implicit default). Raises
    ``UnsupportedDdl`` if an unrecognized attribute remains — silently
    dropping the tail would also drop a trailing FIRST/AFTER and bypass
    the mid-table-placement guard."""
    m = _COLUMN_DEF.match(coldef)
    if not m:
        return coldef, False, None, None, False, False
    rest = coldef[m.end() :]
    pos = 0
    first = False
    after: str | None = None
    default: str | None = None
    default_is_expr = False
    not_null = False
    while True:
        ma = _ATTR.match(rest, pos)
        if not ma:
            break
        attr = ma.group(0)
        maft = _AFTER_ATTR.fullmatch(attr)
        mdef = None if maft else _DEFAULT_ATTR.fullmatch(attr)
        if maft:
            after = _unquote(maft.group(1))
        elif mdef:
            lit = mdef.group(1).strip()
            if lit.upper() == "NULL":
                default, default_is_expr = None, False
            elif lit.startswith("("):
                # MySQL 8 parenthesized expression default — the backfill
                # value is ALTER-execution-time state the stream lacks
                default, default_is_expr = lit, True
            elif _LITERAL_DEFAULT.match(lit):
                default, default_is_expr = lit, False
            else:
                # expression default — value is ALTER-execution-time state
                default, default_is_expr = lit, True
        elif _NOT_NULL_ATTR.fullmatch(attr):
            not_null = True
        elif _FIRST_ATTR.fullmatch(attr):
            first = True
        pos = ma.end()
    tail = rest[pos:].strip()
    if tail:
        raise UnsupportedDdl(
            f"unrecognized column attribute in DDL: {tail!r} "
            f"(column definition {coldef!r})"
        )
    return coldef[: m.end()], first, after, default, default_is_expr, not_null


_DECIMAL_DDL = re.compile(r"^decimal\((\d+),(\d+)\)$", re.IGNORECASE)


def _is_widening(old: tuple, new: ModifyColumn) -> bool:
    """True iff retyping column ``old = (name, spark_ddl, kind)`` to
    ``new`` is value-preserving for every already-decoded row AND every
    future row: same decode kind (the byte parser follows TABLE_MAP
    metadata per event, so kind is what must stay stable), and a storage
    dtype that contains the old one. The int family (TINYINT..BIGINT)
    and the string family (CHAR/VARCHAR/TEXT) already share one storage
    dtype, so those widenings are dtype no-ops; DECIMAL allows precision
    growth at equal scale."""
    _, old_ddl, old_kind = old
    if new.kind != old_kind:
        return False
    if new.spark_ddl == old_ddl:
        return True
    ranks = {"tinyint": 1, "smallint": 2, "int": 3, "bigint": 4,
             "float": 1, "double": 2}
    ro, rn = ranks.get(old_ddl.lower()), ranks.get(new.spark_ddl.lower())
    if ro is not None and rn is not None:
        return rn >= ro and (old_ddl.lower() in ("float", "double")) == (
            new.spark_ddl.lower() in ("float", "double")
        )
    mo, mn = _DECIMAL_DDL.match(old_ddl), _DECIMAL_DDL.match(new.spark_ddl)
    if mo and mn:
        return (
            int(mn.group(1)) >= int(mo.group(1))
            and int(mn.group(2)) == int(mo.group(2))
        )
    return False


def evolve_spec(spec, alters) -> "TableSpec":  # noqa: F821 (import cycle)
    """Fold parsed ``AlterTable`` statements (stream order) into an
    evolved TableSpec. Adds land at their declared position — the end
    absent FIRST/AFTER, matching MySQL's physical layout — because the
    decode tier maps positionally when TABLE_MAP carries no names
    (MINIMAL metadata): a mid-table insertion folded as an end-append
    would silently mis-decode every column after the insertion point.
    ``MODIFY COLUMN`` (and same-name ``CHANGE``) applies iff the retype
    is *widening* (``_is_widening``) and keeps the column's position —
    the Iceberg type-promotion rule (int→long, decimal precision growth)
    expressed over MySQL DDL. Raises ``UnsupportedDdl`` on a
    non-additive clause, a narrowing/kind-changing MODIFY, or a column
    def the decode tier cannot map, for the tracked table.

    Grouped-statement policy (multi-clause ALTER): schema-NEUTRAL
    clauses (ADD INDEX/KEY/CONSTRAINT, table options, ...) are skipped
    and the statement's adds/modifies apply — an index never changes row
    decode. But a statement mixing adds with any NON-ADDITIVE clause
    (DROP, RENAME, a true CHANGE, ...) is rejected ATOMICALLY: MySQL
    executes the ALTER as one atomic statement, so applying half of it
    would track a schema the server never had."""
    from .decoder import TableSpec

    cols = list(spec.columns)
    have = {c[0] for c in cols}
    defaults = dict(getattr(spec, "defaults", ()) or ())
    changed = False
    for alter in alters:
        if alter is None:
            continue
        if alter.table != spec.table:
            continue
        if alter.database is None:
            if spec.database is not None:
                # statement was unqualified AND the QUERY event carried no
                # session default db — name-match is the only signal left.
                # Loud, because a same-named table in another database
                # would be folded into the tracked spec here.
                warnings.warn(
                    f"ALTER TABLE {alter.table!r} has no database qualifier "
                    "and its QUERY event carried no session default "
                    f"database; applying to tracked spec "
                    f"{spec.database}.{spec.table} on table-name match only",
                    stacklevel=2,
                )
        elif alter.database != spec.database:
            continue
        if alter.unsupported:
            raise UnsupportedDdl(
                f"non-additive DDL on tracked table {spec.table!r}: "
                f"{', '.join(alter.unsupported)} (additive evolution only)"
            )
        if alter.errors:
            raise UnsupportedDdl(
                f"unmappable ADD COLUMN on tracked table {spec.table!r}: "
                + "; ".join(alter.errors)
            )
        for mod in alter.modifies:
            if mod.first or mod.after is not None:
                raise UnsupportedDdl(
                    f"MODIFY COLUMN {mod.name!r} with FIRST/AFTER moves the "
                    f"column mid-table on tracked table {spec.table!r}; "
                    "positional (MINIMAL-metadata) decode needs stable "
                    "column positions"
                )
            names = [c[0] for c in cols]
            if mod.name not in names:
                raise UnsupportedDdl(
                    f"MODIFY COLUMN {mod.name!r}: no such column on "
                    f"tracked table {spec.table!r}"
                )
            idx = names.index(mod.name)
            if not _is_widening(cols[idx], mod):
                raise UnsupportedDdl(
                    f"MODIFY COLUMN {mod.name!r} {mod.type_text} is not a "
                    f"widening retype of {cols[idx][1]!r}/{cols[idx][2]!r} "
                    f"on tracked table {spec.table!r} (widening promotions "
                    "only: int family, string family, equal-scale DECIMAL "
                    "precision growth)"
                )
            if cols[idx][1] != mod.spark_ddl:
                cols[idx] = (mod.name, mod.spark_ddl, mod.kind)
                changed = True
        for add in alter.adds:
            if add.name in have:  # IF NOT EXISTS / redelivered DDL
                continue
            if add.default_is_expr:
                raise UnsupportedDdl(
                    f"ADD COLUMN {add.name!r} DEFAULT {add.default} on "
                    f"tracked table {spec.table!r}: expression defaults "
                    "backfill with the ALTER's execution-time value, "
                    "which the stream does not carry (literal defaults "
                    "only)"
                )
            implicit: str | None = None
            if add.not_null and add.default is None:
                # MySQL backfills a NOT NULL column added without DEFAULT
                # with the type's implicit default ('' / 0); temporal and
                # structured kinds would need a zero-date the lake cannot
                # represent — refuse those loudly instead of diverging
                implicit = _IMPLICIT_DEFAULTS.get(add.kind)
                if implicit is None:
                    raise UnsupportedDdl(
                        f"ADD COLUMN {add.name!r} {add.type_text} NOT NULL "
                        f"without DEFAULT on tracked table {spec.table!r}: "
                        f"the {add.kind!r} kind's implicit default is not "
                        "representable (add an explicit literal DEFAULT)"
                    )
            if add.first:
                idx = 0
            elif add.after is not None:
                names = [c[0] for c in cols]
                if add.after not in names:
                    raise UnsupportedDdl(
                        f"ADD COLUMN {add.name!r} AFTER {add.after!r}: "
                        f"no such column on tracked table {spec.table!r}"
                    )
                idx = names.index(add.after) + 1
            else:
                idx = len(cols)
            if idx != len(cols):
                # Nameless TABLE_MAPs decode as a *prefix* of the
                # canonical order (decoder._colmap), which is only valid
                # under end-append evolution: a mid-table insertion would
                # silently mis-decode every column after the insertion
                # point in every pre-ALTER row. Refuse loudly.
                raise UnsupportedDdl(
                    f"ADD COLUMN {add.name!r} with FIRST/AFTER places the "
                    f"column mid-table on tracked table {spec.table!r}; "
                    "positional (MINIMAL-metadata) decode supports "
                    "end-append evolution only"
                )
            cols.insert(idx, (add.name, add.spark_ddl, add.kind))
            have.add(add.name)
            if add.default is not None:
                defaults[add.name] = add.default
                changed = True
            elif implicit is not None:
                defaults[add.name] = implicit
                changed = True
    if len(cols) == len(spec.columns) and not changed:
        return spec
    return TableSpec(
        database=spec.database,
        table=spec.table,
        columns=tuple(cols),
        primary_key=spec.primary_key,
        defaults=tuple(sorted(defaults.items())),
    )


_CREATE_HEAD = re.compile(
    r"^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?:(" + _IDENT + r")\s*\.\s*)?(" + _IDENT + r")\s*\(",
    re.IGNORECASE,
)

_PK_CLAUSE = re.compile(
    r"^(?:CONSTRAINT\s+" + _IDENT + r"\s+)?PRIMARY\s+KEY\s*\(([^)]*)\)",
    re.IGNORECASE,
)

# body clauses that define no column: indexes, constraints, checks
_NON_COLUMN_CLAUSE = re.compile(
    r"^(?:(?:UNIQUE|FULLTEXT|SPATIAL)\s+)?(?:INDEX|KEY)\b"
    r"|^CONSTRAINT\b|^FOREIGN\s+KEY\b|^CHECK\b",
    re.IGNORECASE,
)


def spec_from_create_table(sql: str, database: str | None = None):
    """Bootstrap a TableSpec from a ``CREATE TABLE`` statement — the
    snapshot-DDL half of the schema registry (Debezium reads the source's
    ``SHOW CREATE TABLE`` at snapshot time for exactly this). Column
    order is the statement's order, which IS the table's physical order —
    what positional mapping needs for nameless (MINIMAL-metadata)
    TABLE_MAPs. The primary key comes from an inline ``PRIMARY KEY``
    attribute or a table-level ``PRIMARY KEY (...)`` clause.

    ``database`` supplies the session default db for statements that
    don't qualify the table name. Raises ``UnsupportedDdl`` on types the
    decode tier has no kind for."""
    from .decoder import TableSpec

    head = _CREATE_HEAD.match(sql)
    if not head:
        raise UnsupportedDdl(f"not a CREATE TABLE statement: {sql[:60]!r}")
    db = _unquote(head.group(1)) if head.group(1) else database
    table = _unquote(head.group(2))
    # body = text inside the outermost parens (options after are ignored)
    depth, start, end = 1, head.end(), None
    for i in range(head.end(), len(sql)):
        ch = sql[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                end = i
                break
    if end is None:
        raise UnsupportedDdl("unterminated CREATE TABLE column list")
    body = sql[start:end]

    cols: list[tuple] = []
    pk: list[str] = []
    for clause in _split_clauses(body):
        mpk = _PK_CLAUSE.match(clause)
        if mpk:
            pk = [
                _unquote(c.strip())
                for c in mpk.group(1).split(",")
                if c.strip()
            ]
            continue
        if _NON_COLUMN_CLAUSE.match(clause):
            continue
        m = _COLUMN_DEF.match(clause)
        if not m:
            raise UnsupportedDdl(f"cannot parse column definition: {clause!r}")
        name = _unquote(m.group(1))
        spark_ddl, kind = map_mysql_type(m.group(2).strip())
        cols.append((name, spark_ddl, kind))
        if re.search(r"\bPRIMARY\s+KEY\b", clause[m.end() :], re.IGNORECASE):
            pk = [name]
    if not cols:
        raise UnsupportedDdl("CREATE TABLE with no columns")
    if not pk:
        raise UnsupportedDdl(
            f"CREATE TABLE {table!r} declares no PRIMARY KEY — the merge "
            "tier is keyed; supply a spec with an explicit primary_key"
        )
    if db is None:
        raise UnsupportedDdl(
            "table name is unqualified and no default database was given"
        )
    return TableSpec(
        database=db, table=table, columns=tuple(cols), primary_key=tuple(pk)
    )


def scan_ddl(content: bytes) -> list[dict]:
    """Metadata-only scan of one segment for QUERY events that parse as
    ALTER TABLE: returns [{"pos", "sql", "database"}] in file order. Row
    payloads are never decoded; ``reader.iter_frames`` does the walk, so
    a MariaDB-compressed (long) ALTER reads like a plain one."""
    out = []
    for pos, header, payload, _error in iter_frames(content):
        if header[1] == EventType.QUERY:
            q = parse_query(payload)
            sql = q["sql_statement"]
            if _ALTER_HEAD.match(sql):
                out.append(
                    {"pos": pos, "sql": sql, "database": q.get("database_name")}
                )
    return out


def discover_spec(spark, binlog_dir: str, spec) -> "TableSpec":  # noqa: F821
    """Distributed DDL discovery: scan every segment's QUERY events for
    ALTER TABLE statements on the tracked table and fold them (in
    (segment, pos) order) into an evolved TableSpec. The complement of
    ``decoder.discover_columns`` for ``binlog_row_metadata=MINIMAL``
    streams, where TABLE_MAP carries no column names."""
    from collections.abc import Iterator

    import pyarrow as pa

    from .decoder import (
        _list_segments,
        _read_bytes,
        _segment_sort_key,
        segment_tasks,
    )

    files = segment_tasks(spark, _list_segments(binlog_dir))

    def scan(tasks: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np

        from . import arrays as A

        for task in tasks:
            rows = []
            for path in task.column("path").to_pylist():
                name = path.rsplit("/", 1)[-1]
                for d in scan_ddl(_read_bytes(path)):
                    rows.append((name, d["pos"], d["sql"], d["database"]))
            names, pos, sql, db = zip(*rows) if rows else ((), (), (), ())
            yield pa.RecordBatch.from_pydict({
                "src_file": A.from_objects(names, pa.string()),
                "pos": A.from_numpy(np.array(pos, dtype=np.int64), pa.int64()),
                "sql": A.from_objects(sql, pa.string()),
                "database": A.from_objects(db, pa.string()),
            })

    found = sorted(
        files.mapInArrow(
            scan, schema="src_file string, pos long, sql string, database string"
        ).collect(),
        key=lambda r: (_segment_sort_key(r["src_file"]), r["pos"]),
    )
    alters = []
    for r in found:
        alter = parse_alter(r["sql"])
        if alter is None:
            continue
        if alter.database is None and r["database"]:
            # statement relied on the session default database (USE db)
            alter = replace(alter, database=str(r["database"]))
        alters.append(alter)
    return evolve_spec(spec, alters)


# -- TRUNCATE TABLE fences ---------------------------------------------------

_TRUNCATE_RE = re.compile(
    r"^\s*TRUNCATE\s+(?:TABLE\s+)?"
    r"(?:(?P<db>" + _IDENT + r")\s*\.\s*)?(?P<tbl>" + _IDENT + r")\s*;?\s*$",
    re.IGNORECASE,
)

# DROP [TEMPORARY] TABLE [IF EXISTS] t1[, t2, ...] — multi-table list
_DROP_HEAD_RE = re.compile(
    r"^\s*DROP\s+(?P<temp>TEMPORARY\s+)?TABLE\s+(?:IF\s+EXISTS\s+)?"
    r"(?P<list>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_ITEM_RE = re.compile(
    r"^\s*(?:(?P<db>" + _IDENT + r")\s*\.\s*)?(?P<tbl>" + _IDENT + r")\s*$"
)


# RENAME TABLE a TO b[, c TO d ...] — the pt-osc/gh-ost cutover shape
_RENAME_HEAD_RE = re.compile(
    r"^\s*RENAME\s+TABLE\s+(?P<list>.+?)\s*;?\s*$", re.IGNORECASE | re.DOTALL
)
_RENAME_PAIR_RE = re.compile(
    r"^\s*(?:(?P<db1>" + _IDENT + r")\s*\.\s*)?(?P<t1>" + _IDENT + r")"
    r"\s+TO\s+"
    r"(?:(?P<db2>" + _IDENT + r")\s*\.\s*)?(?P<t2>" + _IDENT + r")\s*$",
    re.IGNORECASE,
)
# ALTER TABLE x RENAME [TO|AS] y — the single-table form
_ALTER_RENAME_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?:(?P<db1>" + _IDENT + r")\s*\.\s*)?"
    r"(?P<t1>" + _IDENT + r")\s+RENAME\s+(?:TO\s+|AS\s+)?"
    r"(?:(?P<db2>" + _IDENT + r")\s*\.\s*)?(?P<t2>" + _IDENT + r")\s*;?\s*$",
    re.IGNORECASE,
)


def parse_rename_table(sql: str, default_database: str | None = None):
    """Parse ``RENAME TABLE a TO b[, ...]`` or ``ALTER TABLE a RENAME
    [TO] b``; returns a list of ``((db_from, tbl_from), (db_to, tbl_to))``
    pairs, or None for any other statement."""
    pairs = []
    m = _RENAME_HEAD_RE.match(sql)
    if m is not None:
        for item in m.group("list").split(","):
            pm = _RENAME_PAIR_RE.match(item)
            if pm is None:
                return pairs or None
            db1 = _unquote(pm.group("db1")) if pm.group("db1") else default_database
            db2 = _unquote(pm.group("db2")) if pm.group("db2") else default_database
            pairs.append(
                ((db1, _unquote(pm.group("t1"))), (db2, _unquote(pm.group("t2"))))
            )
        return pairs
    am = _ALTER_RENAME_RE.match(sql)
    if am is None:
        return None
    db1 = _unquote(am.group("db1")) if am.group("db1") else default_database
    db2 = _unquote(am.group("db2")) if am.group("db2") else default_database
    return [((db1, _unquote(am.group("t1"))), (db2, _unquote(am.group("t2"))))]


class TrackedTableDropped(RuntimeError):
    """A ``DROP TABLE`` on the tracked table was found in the stream.

    The table's history ends here; anything logged after a re-CREATE is
    a DIFFERENT table whose columns may map differently, so decoding past
    the drop against the old spec would silently mis-apply rows (the same
    stop policy as INCIDENT markers). Resolve deliberately: re-bootstrap
    the store from a snapshot of the recreated table, or restart the
    Replayer with a position start strategy past ``(src_file, pos)``."""

    def __init__(self, src_file: str, pos: int, sql: str):
        self.src_file = src_file
        self.pos = pos
        self.sql = sql
        super().__init__(
            f"tracked table dropped at {src_file}:{pos} ({sql!r}); "
            "re-bootstrap the store or restart past this position"
        )


class TrackedTableRenamed(TrackedTableDropped):
    """A ``RENAME TABLE`` involving the tracked table was found — the
    pt-online-schema-change / gh-ost cutover shape (`RENAME TABLE t TO
    t_old, t_new TO t`). After the swap, events under the tracked name
    describe a DIFFERENT physical table whose columns may map
    differently, so continuing against the old spec would silently
    mis-apply rows. Stop and let the operator confirm the new schema
    (same remedies as a drop: re-bootstrap, or restart past the cutover
    with an updated spec)."""

    def __init__(self, src_file: str, pos: int, sql: str):
        self.src_file = src_file
        self.pos = pos
        self.sql = sql
        RuntimeError.__init__(
            self,
            f"tracked table renamed at {src_file}:{pos} ({sql!r}) — "
            "schema-change cutover; confirm the new schema, then "
            "re-bootstrap or restart past this position",
        )


def parse_drop_table(sql: str, default_database: str | None = None):
    """Parse a ``DROP TABLE`` statement; returns the list of
    ``(database, table)`` it drops (database falls back to the session
    default), or None for any other statement. ``DROP TEMPORARY TABLE``
    returns None: temporary tables live in a per-session namespace, so
    even a name collision never drops the tracked base table."""
    m = _DROP_HEAD_RE.match(sql)
    if m is None or m.group("temp"):
        return None
    out = []
    for item in m.group("list").split(","):
        im = _DROP_ITEM_RE.match(item)
        if im is None:
            return out or None
        db = _unquote(im.group("db")) if im.group("db") else default_database
        out.append((db, _unquote(im.group("tbl"))))
    return out


def parse_truncate(sql: str, default_database: str | None = None):
    """Parse a ``TRUNCATE [TABLE] [db.]tbl`` statement. Returns
    ``(database, table)`` (database falls back to the QUERY event's
    session default, like ALTER handling), or None for any other
    statement."""
    m = _TRUNCATE_RE.match(sql)
    if m is None:
        return None
    db = _unquote(m.group("db")) if m.group("db") else default_database
    return (db, _unquote(m.group("tbl")))


_FENCE_LITERALS = (
    b"TRUNCATE", b"truncate", b"DROP", b"drop", b"RENAME", b"rename",
)


def scan_truncates(
    content: bytes, src_file: str, database: str, table: str
) -> list[dict]:
    """One cheap pass over a segment collecting ``TRUNCATE TABLE`` and
    ``DROP TABLE`` statements on the tracked table — the replay-time
    fences the merge pipeline needs (a truncate clears all state logged
    before it and rows after rebuild from empty; a drop ends the table's
    history — ``run_batch`` raises :class:`TrackedTableDropped`, the same
    stop policy as INCIDENT markers). Segments without any of the
    literals are rejected on C-level substring scans; row payloads are
    never decoded.

    Returns one dict per fence, in file order:
    ``{"kind": "truncate"|"drop", "pos", "gtid_source", "gtid_seq",
    "ts"}`` where ``pos`` is the QUERY event's own offset (implicit-
    commit DDL carries no rows, so every later transaction's rows sit at
    strictly greater positions — even TRANSACTION_PAYLOAD-spliced frames,
    whose wrapper offsets are all later than the fence) and the gtid
    identifies the statement's own transaction for ledger idempotence
    (``gtid_source`` None on GTID-less streams). ``reader.iter_frames``
    does the walk, so compressed QUERY frames inflate and wrappers expand
    as in every other scan. The substring reject on the raw bytes stays
    sound: a MariaDB server only compresses bodies that reach
    ``log_bin_compress_min_len`` (floor 256), so these short statements
    stay plain, and MySQL never payload-compresses transactions containing
    DDL (WL#3549 restriction)."""
    if not any(lit in content for lit in _FENCE_LITERALS):
        return []
    from .reader import parse_mariadb_gtid, parse_mysql_gtid

    out: list[dict] = []
    gtid_source: str | None = None
    gtid_seq: int | None = None
    for pos, header, payload, _error in iter_frames(content):
        etype = header[1]
        if etype == EventType.MYSQL_GTID:
            ev = parse_mysql_gtid(payload)
            gtid_source = ev["source_uuid"]
            gtid_seq = ev["transaction_id"]
        elif etype == EventType.MARIADB_GTID:
            ev = parse_mariadb_gtid(payload, header[2])
            gtid_source = f"{ev['domain_id']}-{ev['server_id']}"
            gtid_seq = ev["sequence"]
        elif etype == EventType.QUERY and any(
            lit in payload for lit in _FENCE_LITERALS
        ):
            q = parse_query(payload)
            sql = q["sql_statement"]
            default_db = q.get("database_name") or None
            me = (database, table)
            truncated = parse_truncate(sql, default_db)
            dropped = parse_drop_table(sql, default_db)
            if truncated is not None:
                kind = "truncate" if truncated == me else None
            elif dropped is not None:
                kind = "drop" if me in dropped else None
            else:
                renamed = parse_rename_table(sql, default_db) or ()
                kind = "rename" if any(me in pair for pair in renamed) else None
            if kind is not None:
                out.append({
                    "kind": kind, "pos": pos, "gtid_source": gtid_source,
                    "gtid_seq": gtid_seq, "ts": header[0],
                })
    return out
