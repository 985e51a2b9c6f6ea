"""Unbounded-broadcast-hint certification and the checkpoint seam.

A forced ``F.broadcast()`` hint — unlike an AQE- or estimate-chosen
broadcast, which backs off when the measured size is large — is a
deterministic executor OOM once the hinted table outgrows memory.  A
hint is therefore only legitimate on a subtree whose cardinality is
BOUNDED by construction: a value-domain / calendar / bucket-keyed
aggregate, a LIMIT, a literal table, or one of the two genuinely
fixed dims (nation, region).  A hint on anything keyed by an entity
id (users, customers, orders, parts, suppliers, docs, vectors) scales
with the corpus and fails at 100x.

This module parses the OPTIMIZED logical plan (where
``EliminateResolvedHint`` has attached every user hint to its join as
``leftHint=/rightHint=(strategy=broadcast)``), extracts each hinted
subtree, and certifies it bounded by recursion (one rule walk,
:func:`_why_unbounded`):

* leaf ``Relation`` nodes are classified by their column fingerprint
  (``n_nationkey`` -> nation, ``c_custkey`` -> customer, ...): only
  nation / region / LocalRelation / Range / OneRowRelation are bounded;
* ``LogicalRDD`` leaves (checkpoints and driver literals) are bounded
  only if their attrs were registered bounded — fail-closed;
* ``Aggregate`` / ``Deduplicate`` bound everything beneath them IFF no
  grouping key references an entity-id column;
* ``GlobalLimit`` bounds unconditionally;
* semi / anti joins bound iff their LEFT side is bounded; other joins
  iff ALL children are bounded; every other node inherits from its
  children (no children -> unbounded, conservatively).

The checkpoint seam lives here too: :func:`certified_local_checkpoint`
certifies a plan, checkpoints it and registers the checkpoint's attrs
with the plan's boundedness; :func:`free_checkpoint` releases the
blocks and drops the registration.  An eager ``localCheckpoint()``
truncates lineage to a ``LogicalRDD``, so certifying the
PRE-checkpoint plan is the only moment a hint behind it is visible.

The registry-wide sweep is ``tools/broadcast_guard.py`` (also run by
tests/test_plans.py::test_no_unbounded_broadcast_hints):

    python tools/broadcast_guard.py [sf_dir]
"""

from __future__ import annotations

import logging
import math
import re
from dataclasses import dataclass, field

# Entity-id columns whose distinct count grows with the corpus.  A
# grouping key referencing any of these marks the aggregate (and the
# hinted subtree above it) unbounded.  Value-domain keys (event_type,
# segment, brand, band/bucket ids, calendar indices, vocab words) are
# NOT listed: their aggregates are histogram-shaped and broadcastable.
UNBOUNDED_COLS = frozenset({
    "user_id", "event_id", "sid", "session_id",
    "c_custkey", "o_custkey", "custkey",
    "o_orderkey", "l_orderkey", "orderkey",
    "p_partkey", "l_partkey", "ps_partkey", "partkey",
    "s_suppkey", "l_suppkey", "ps_suppkey", "suppkey",
    "doc_id", "vec_id", "url",
})

# Relation fingerprints: a parquet Relation leaf is classified by which
# marker column appears in its output list.  Only nation/region are
# bounded dims (25 / 5 rows at EVERY scale factor); everything else —
# including part/supplier/customer, which are "dims" but grow linearly
# with sf — is unbounded.
_REL_MARKERS = [
    ("n_nationkey", "nation", True),
    ("r_regionkey", "region", True),
    ("c_custkey", "customer", False),
    ("o_orderkey", "orders", False),
    ("l_orderkey", "lineitem", False),
    ("ps_partkey", "partsupp", False),
    ("p_partkey", "part", False),
    ("s_suppkey", "supplier", False),
    ("event_id", "events", False),
    ("doc_id", "documents", False),
    ("vec_id", "embeddings", False),
]

_COLREF = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)#\d+")


@dataclass
class Node:
    text: str
    children: list["Node"] = field(default_factory=list)

    @property
    def name(self) -> str:
        return self.text.split(" ", 1)[0].split("(", 1)[0]


def parse_plan(plan: str) -> Node:
    """Parse a logical plan ``toString()`` into a Node tree.

    Each line's depth is the count of leading 3-char indent groups
    (``':  '`` / ``'   '`` fillers plus the final ``':- '`` / ``'+- '``
    connector).  Inner children (subquery plans) parse as ordinary
    children — harmless for boundedness, which defaults to
    all-children recursion."""
    root: Node | None = None
    stack: list[tuple[int, Node]] = []
    for raw in plan.splitlines():
        if not raw.strip():
            continue
        i, depth = 0, 0
        while raw[i: i + 3] in (":  ", "   "):
            i += 3
            depth += 1
        if raw[i: i + 3] in (":- ", "+- "):
            i += 3
            depth += 1
        node = Node(raw[i:])
        if depth == 0 and root is None:
            root = node
            stack = [(0, node)]
            continue
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if stack:
            stack[-1][1].children.append(node)
        stack.append((depth, node))
    assert root is not None, "empty plan"
    return root


def _first_bracket(text: str) -> str:
    """The content of the first top-level [...] group in a node line."""
    start = text.find("[")
    if start < 0:
        return ""
    depth = 0
    for j in range(start, len(text)):
        if text[j] == "[":
            depth += 1
        elif text[j] == "]":
            depth -= 1
            if depth == 0:
                return text[start + 1: j]
    return text[start + 1:]


def _grouping_keys(text: str) -> str:
    """Grouping keys of an Aggregate/Deduplicate node line, or '' for a
    global (1-row) aggregate.

    ``Aggregate`` prints TWO top-level bracket groups when grouped
    (``Aggregate [keys], [exprs]``) but only ONE for an empty grouping
    (``Aggregate [exprs]``) — a single-bracket form is a global
    aggregate whose expressions must NOT be read as keys."""
    start = text.find("[")
    if start < 0:
        return ""
    depth = 0
    end = -1
    for j in range(start, len(text)):
        if text[j] == "[":
            depth += 1
        elif text[j] == "]":
            depth -= 1
            if depth == 0:
                end = j
                break
    if end < 0:
        return ""
    if text[end + 1: end + 3] == ", " and text[end + 3: end + 4] == "[":
        return text[start + 1: end]
    return ""  # single bracket group -> global aggregate


def _keys_unbounded(keys_text: str) -> bool:
    return any(m in UNBOUNDED_COLS for m in _COLREF.findall(keys_text))


def classify_relation(text: str) -> tuple[str, bool]:
    cols = set(_COLREF.findall(_first_bracket(text)))
    for marker, table, bounded in _REL_MARKERS:
        if marker in cols:
            return table, bounded
    return "unknown", False


_ID_PIN = re.compile(
    r"\((" + "|".join(sorted(UNBOUNDED_COLS)) + r")#\d+L? (?:<=|<|=) -?\d"
)


def _filter_pins_entity(text: str) -> bool:
    """True when a Filter pins an entity-id column to a literal
    (equality or a constant upper range): ``vec_id = 0`` selects one
    entity, ``vec_id < 16`` at most 16 — both constant in corpus size.
    Disabled when the condition contains an OR (a disjunct can undo
    the pin)."""
    return " OR " not in text and bool(_ID_PIN.search(text))


# Output-attribute ids of registered LogicalRDD leaves -> boundedness.
# A ``LogicalRDD`` leaf is either a driver-side literal (``literal_df``,
# registered bounded) or a checkpoint made by
# ``certified_local_checkpoint``, registered with the boundedness of
# the PRE-checkpoint plan, so broadcasting a corpus-scale CHECKPOINTED
# table downstream is flagged instead of waved through.  An attr id
# nobody registered is unbounded (fail-closed): every package-made
# LogicalRDD goes through one of the two registering seams (both
# grep-guarded in tests/test_plans.py).
CHECKPOINT_COLS_BOUNDED: dict[str, bool] = {}
# Name-SET fallback: Spark's DeduplicateRelations re-ids one side of a
# self-join, so a checkpoint's attrs can appear in a plan under ids the
# registry has never seen.  The column-NAME frozenset survives the
# re-id; if the same name-set was ever registered with conflicting
# boundedness, the conservative AND wins.  Accepted conservatism
# (round-11 review): the AND is sticky for the session — once any
# UNBOUNDED checkpoint shares a name-set with a bounded one, the
# bounded one's re-id'd self-joins flag (a false POSITIVE, never a
# false negative).  No registered query trips this today (the sweep
# is green); if one ever does, rename a column at the seam rather than
# weakening the AND.
CHECKPOINT_NAMES_BOUNDED: dict[frozenset, bool] = {}
_CHECKPOINT_APP: list[str] = []  # appId the registry belongs to

_log = logging.getLogger(__name__)


def clear_checkpoint_bounds() -> None:
    """Drop every recorded checkpoint attr id.  Called by
    free_staged_checkpoints() (once staged tables are released, plans
    referencing them are gone) and on Spark application change (a
    fresh JVM restarts exprIds from low numbers, so stale keys could
    collide with new literals)."""
    CHECKPOINT_COLS_BOUNDED.clear()
    CHECKPOINT_NAMES_BOUNDED.clear()
    _CHECKPOINT_APP.clear()


def _output_attrs(df) -> list[tuple[str, str]]:
    """``(name, "name#id")`` of each output attr of ``df``'s analyzed
    plan — the registry key is the id form plan text prints."""
    out = df._jdf.queryExecution().analyzed().output()
    attrs = [out.apply(i) for i in range(out.size())]
    return [(a.name(), f"{a.name()}#{a.exprId().id()}") for a in attrs]


def register_checkpoint_bounds(df_ck, is_bounded: bool) -> None:
    """Record a LogicalRDD-rooted DataFrame's output attribute ids with
    the boundedness of the plan it truncated (see
    CHECKPOINT_COLS_BOUNDED).  Called by certified_local_checkpoint and
    literal_df."""
    app = df_ck.sparkSession.sparkContext.applicationId
    if _CHECKPOINT_APP and _CHECKPOINT_APP[0] != app:
        clear_checkpoint_bounds()
    if not _CHECKPOINT_APP:
        _CHECKPOINT_APP.append(app)
    attrs = _output_attrs(df_ck)
    for _, key in attrs:
        CHECKPOINT_COLS_BOUNDED[key] = is_bounded
    nameset = frozenset(name for name, _ in attrs)
    CHECKPOINT_NAMES_BOUNDED[nameset] = (
        CHECKPOINT_NAMES_BOUNDED.get(nameset, True) and is_bounded
    )


def literal_df(spark, data, schema=None):
    """The ONLY sanctioned ``createDataFrame`` call in the package:
    build a driver-side literal table and register its output attrs
    as bounded.  PySpark's createDataFrame compiles to a LogicalRDD
    (same leaf a checkpoint truncates to), and the guard classifies an
    unregistered LogicalRDD as corpus-scale; registering at creation
    keeps that fail-closed default sound — every package-made
    LogicalRDD is registered, so "unknown = unbounded" has no false
    positives.  A grep-guard
    (tests/test_plans.py::test_no_bare_createdataframe_in_package)
    keeps bare createDataFrame calls out of every other module.

    Single-slice (round 12): createDataFrame(list) parallelizes into
    defaultParallelism Python-RDD slices (32 here, nearly all empty
    for a literal).  Evaluating those in PARALLEL is one worker
    round-trip, but any downstream ``coalesce(1)`` — the standard
    shape for checkpointing a tiny staged table — evaluates all 32
    sequentially in ONE task at ~150 ms of Python-worker round-trip
    each: a measured ~4.8 s per checkpoint seam that dominated
    several heavies (attribution_markov_removal's rkeys stage alone
    was 3.7-5.0 s of it).  A literal is driver-local and tiny by
    definition, so one slice is always right."""
    if isinstance(data, list):
        df = spark.createDataFrame(
            spark.sparkContext.parallelize(data, 1), schema
        )
    else:
        df = spark.createDataFrame(data, schema)
    register_checkpoint_bounds(df, True)
    return df


def sql_double(value: float, what: str) -> str:
    """One double as a SQL literal: ``'<repr>D'`` parses back to exactly
    the repr'd double (shortest round trip both ways).  NaN and +-Inf
    would render as ``nanD`` / ``infD``, which ``F.expr`` cannot parse,
    so they raise here, naming ``what`` held them."""
    x = float(value)
    if not math.isfinite(x):
        raise ValueError(
            f"{what} holds a non-finite value {x!r}; SQL double literals must be finite"
        )
    return f"{x!r}D"


def sql_double_array(values, what: str) -> str:
    """``array(<d>D,...)`` for hand-built SQL strings.  With
    ``sql_double`` the ONLY place the package renders doubles into SQL
    text (a grep-guard, tests/test_plans.py::
    test_sql_double_literals_only_in_guard, keeps it that way).  One parsed string instead of a py4j ``F.lit`` per
    element is what keeps k x d centroid arrays cheap to build."""
    return "array(" + ",".join(sql_double(x, what) for x in values) + ")"


def sql_ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier, embedded
    backticks doubled, so a dotted or odd name resolves as one column."""
    return "`" + name.replace("`", "``") + "`"


def _logical_rdd_bounded(text: str) -> bool:
    """A LogicalRDD is bounded only if the registry says so, and it
    fails closed: a registered-unbounded attr makes it unbounded; all
    attrs registered bounded make it bounded; otherwise (ids nobody
    registered, e.g. DeduplicateRelations re-id'd a self-join side) its
    column-name SET decides, and a name-set never registered bounded is
    unbounded.  Plan text prints attrs as ``name#123L`` (type suffix
    after the id); the lookup key is ``name#123``, which the id regex
    extracts directly.  The text must be rendered untruncated (see
    optimized_plan): a truncated attr list yields a wrong name-set."""
    attrs = [
        m.group(0)
        for m in re.finditer(
            r"[A-Za-z_][A-Za-z0-9_]*#\d+", _first_bracket(text)
        )
    ]
    known = [CHECKPOINT_COLS_BOUNDED[a] for a in attrs if a in CHECKPOINT_COLS_BOUNDED]
    if any(k is False for k in known):
        return False
    if attrs and len(known) == len(attrs):
        return True  # every attr registered bounded
    nameset = frozenset(a.split("#", 1)[0] for a in attrs)
    return CHECKPOINT_NAMES_BOUNDED.get(nameset, False)


def _why_unbounded(node: Node) -> str:
    """The boundedness rules: ``""`` if ``node``'s subtree is provably
    bounded, else the first node that breaks the certificate."""
    name = node.name
    if name == "LogicalRDD":
        return (
            ""
            if _logical_rdd_bounded(node.text)
            else "LogicalRDD(checkpoint of an unbounded plan)"
        )
    if name in ("GlobalLimit", "LocalLimit", "LocalRelation",
                "OneRowRelation", "Range"):
        return ""
    if name == "Filter" and _filter_pins_entity(node.text):
        return ""
    if name == "Relation":
        table, ok = classify_relation(node.text)
        return "" if ok else f"Relation({table})"
    if name in ("Aggregate", "Deduplicate"):
        keys = (
            _grouping_keys(node.text)
            if name == "Aggregate"
            else _first_bracket(node.text)
        )
        if _keys_unbounded(keys):
            return f"{name} keyed [{keys[:80]}]"
        return ""
    if name == "Join":
        kind = node.text.split(" ")[1].rstrip(",") if " " in node.text else ""
        kids = node.children
        if not kids:
            return "Join(no children)"
        if kind in ("LeftSemi", "LeftAnti"):
            return _why_unbounded(kids[0])
        for k in kids:
            why = _why_unbounded(k)
            if why:
                return why
        return ""
    if not node.children:
        return f"leaf {name}"
    for k in node.children:
        why = _why_unbounded(k)
        if why:
            return why
    return ""


def bounded(node: Node) -> bool:
    return not _why_unbounded(node)


def _hinted_offenders_of(root: Node) -> list[str]:
    bad: list[str] = []

    def walk(n: Node) -> None:
        if n.name == "Join" and "strategy=broadcast" in n.text:
            kids = list(n.children)
            if "leftHint=(strategy=broadcast" in n.text and kids:
                why = _why_unbounded(kids[0])
                if why:
                    bad.append(f"LEFT [{why}] of: " + n.text[:140])
            if "rightHint=(strategy=broadcast" in n.text and len(kids) >= 2:
                why = _why_unbounded(kids[-1])
                if why:
                    bad.append(f"RIGHT [{why}] of: " + n.text[:140])
        for k in n.children:
            walk(k)

    walk(root)
    return bad


def hinted_offenders(plan: str) -> list[str]:
    """Headers of broadcast-HINTED join children that are NOT provably
    bounded.  AQE/estimate-chosen broadcasts never appear here — only
    explicit hints survive into the optimized plan's JoinHint."""
    return _hinted_offenders_of(parse_plan(plan))


def optimized_plan(df) -> str:
    """``df``'s optimized logical plan text with untruncated node
    strings: at Spark's default ``maxToStringFields`` (25) a long
    Aggregate line hides its grouping keys, and a LogicalRDD's attr
    list its name-set, from the rules above."""
    df.sparkSession.conf.set("spark.sql.debug.maxToStringFields", "2000")
    return df._jdf.queryExecution().optimizedPlan().toString()


def certified_local_checkpoint(df, label: str, eager: bool = True):
    """The ONLY sanctioned ``localCheckpoint`` call in the package:
    certify the PRE-checkpoint optimized plan hint-bounded (raise on
    an unbounded broadcast hint — afterwards the plan is one
    ``LogicalRDD`` leaf and the hint is invisible), checkpoint, then
    register the checkpoint's output attr ids with the whole plan's
    boundedness so a downstream ``F.broadcast()`` of it is
    classifiable.  Every checkpoint is certified; release one with
    :func:`free_checkpoint`.

    ``queries._util.supersede_checkpoint`` wraps this with a staging
    lifecycle for query builders; ``operators/graph.py`` calls it
    directly inside its iterative loops and frees each superseded
    round.  A grep-guard
    (tests/test_plans.py::test_no_bare_localcheckpoint_in_package)
    keeps bare ``.localCheckpoint(`` out of every other module.

    ``eager=False`` defers materialization to the caller's next action
    (the iterative loops' per-round checksum/convergence aggregate) —
    certification happens at plan-build time either way."""
    root = parse_plan(optimized_plan(df))
    hits = _hinted_offenders_of(root)
    if hits:
        raise AssertionError(
            f"unbounded broadcast hint behind checkpoint {label!r}: {hits}"
        )
    ck = df.localCheckpoint(eager=eager)
    register_checkpoint_bounds(ck, bounded(root))
    return ck


def free_checkpoint(df) -> None:
    """Release the block-manager storage of a SUPERSEDED checkpoint
    and drop its attr ids from the guard registry.

    Spark never frees local-checkpoint blocks on its own: every round
    of an iterative algorithm otherwise leaves one cached RDD behind
    for the life of the session — in a long-lived driver process
    (bench loops, notebook, streaming foreachBatch) that accumulation
    turns into executor-memory pressure and GC churn, and the registry
    grows by one entry per attr per round.  The checkpoint RDD hides
    inside the LogicalRDD node of the checkpointed plan; unpersisting
    the DataFrame's visible .rdd would miss it.  Name-SET entries
    stay: other live checkpoints may share the schema, and their count
    is bounded by distinct schemas, not by rounds.  The iterative
    operators free every superseded round themselves; each call's
    round-0 and returned checkpoints stay registered while the result
    is live, so a direct operator caller releases a consumed result by
    passing it here.

    The freed DataFrame must never be referenced again (its lineage is
    truncated — recompute is impossible by design).  Freeing is
    best-effort: ``None`` or a non-checkpointed plan simply no-ops."""
    if df is None:
        return
    try:
        for _, key in _output_attrs(df):
            CHECKPOINT_COLS_BOUNDED.pop(key, None)
        analyzed = df._jdf.queryExecution().analyzed()
        # Only a LogicalRDD node carries the checkpoint RDD; if a
        # future Spark wraps the checkpointed plan in something else,
        # freeing silently no-ops — log it so the leak is observable.
        if analyzed.nodeName() != "LogicalRDD":
            _log.debug(
                "free_checkpoint skipped: analyzed plan is %s, not LogicalRDD",
                analyzed.nodeName(),
            )
            return
        analyzed.rdd().unpersist(False)
    except Exception:
        _log.debug("free_checkpoint failed (leak possible)", exc_info=True)
