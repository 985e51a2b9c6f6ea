"""Unbounded-broadcast-hint certification on logical plans.

Core logic for the mechanical no-unbounded-broadcast guard (VERDICT r8
item #1), moved into the package in round 10 so
``queries._util.supersede_checkpoint`` can certify every checkpointed
subtree on its PRE-checkpoint plan (VERDICT r9 item #1: an eager
``localCheckpoint()`` truncates lineage to a ``LogicalRDD``, so a hint
executed at checkpoint time was invisible to the registry-wide sweep,
which walks only final plans).  ``tools/broadcast_guard.py`` re-exports
everything here and keeps the standalone CLI sweep.

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
subtree, and certifies it bounded by recursion:

* leaf ``Relation`` nodes are classified by their column fingerprint
  (``n_nationkey`` -> nation, ``c_custkey`` -> customer, ...): only
  nation / region / LocalRelation / Range / OneRowRelation are bounded;
* ``Aggregate`` / ``Deduplicate`` bound everything beneath them IFF no
  grouping key references an entity-id column;
* ``GlobalLimit`` bounds unconditionally;
* semi / anti joins bound iff their LEFT side is bounded; other joins
  iff ALL children are bounded; every other node inherits from its
  children (no children -> unbounded, conservatively).

Used by tests/test_plans.py::test_no_unbounded_broadcast_hints over
every registered query, and runnable standalone:

    python tools/broadcast_guard.py [sf_dir]
"""

from __future__ import annotations

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


# Output-attribute ids of certified checkpoints -> the boundedness of
# the PRE-checkpoint plan (round 10 hardening): a ``LogicalRDD`` leaf
# is either a driver-side literal (createDataFrame — bounded) or a
# materialized checkpoint, and for checkpoints made through
# supersede_checkpoint the original plan's boundedness is recorded
# here by attr id, so broadcasting a corpus-scale CHECKPOINTED table
# downstream is flagged instead of waved through.  Limitation
# (documented, tested): Spark's DeduplicateRelations re-ids one side
# of a self-join, and those re-id'd attrs fall back to the literal
# default — the certification at checkpoint-build time (which sees
# the un-truncated plan) remains the primary seam; this lookup closes
# the downstream-reuse window.
CHECKPOINT_COLS_BOUNDED: dict[str, bool] = {}
# Name-SET fallback for strict mode: Spark's DeduplicateRelations
# re-ids one side of a self-join, so a checkpoint's attrs can appear
# in a plan under ids the registry has never seen.  The column-NAME
# frozenset survives the re-id; if the same name-set was ever
# registered with conflicting boundedness, the conservative AND wins.
# Accepted conservatism (round-11 review): the AND is sticky for the
# session — once any UNBOUNDED checkpoint shares a name-set with a
# bounded one, the bounded one's re-id'd self-joins flag under strict
# mode (a false POSITIVE, never a false negative).  No registered
# query trips this today (the strict sweep is green); if one ever
# does, rename a column at the seam rather than weakening the AND.
CHECKPOINT_NAMES_BOUNDED: dict[frozenset, bool] = {}
_CHECKPOINT_APP: list[str] = []  # appId the registry belongs to

# Fail-closed toggle (ADVICE r10): _logical_rdd_bounded's literal
# default ("unknown LogicalRDD = bounded") is right at a single query
# seam — certification runs on the PRE-checkpoint plan, and literals
# (arrow createDataFrame) are the only other LogicalRDD source — but
# it inverts the guard's otherwise-conservative default for the
# registry-wide sweep, where every package checkpoint IS registered
# (the certified_local_checkpoint seam is grep-guard-enforced).  In
# strict mode an unknown LogicalRDD falls back to the name-set
# registry, then to UNBOUNDED.
_STRICT_LOGICAL_RDD: list[bool] = []


class strict_logical_rdd:
    """Context manager: classify unregistered LogicalRDD leaves as
    unbounded (fail-closed) for the duration.  Used by the
    registry-wide sweep in tests/test_plans.py and by the
    certification seam itself (certified_local_checkpoint).

    Caller contract: the plan text must be rendered with
    ``spark.sql.debug.maxToStringFields`` raised (certify/sweep paths
    set 2000) — a truncated attr list yields a wrong name-set, and in
    strict mode a wrong name-set fails CLOSED (a registered bounded
    checkpoint with >25 columns would flag as an offender)."""

    def __enter__(self):
        _STRICT_LOGICAL_RDD.append(True)
        return self

    def __exit__(self, *exc):
        _STRICT_LOGICAL_RDD.pop()
        return False


def clear_checkpoint_bounds() -> None:
    """Drop every recorded checkpoint attr id.  Called by
    free_staged_checkpoints() (once staged tables are released, plans
    referencing them are gone) and on Spark application change (a
    fresh JVM restarts exprIds from low numbers, so stale keys could
    collide with new literals)."""
    CHECKPOINT_COLS_BOUNDED.clear()
    CHECKPOINT_NAMES_BOUNDED.clear()
    _CHECKPOINT_APP.clear()


def register_checkpoint_bounds(df_ck, is_bounded: bool) -> None:
    """Record a checkpointed DataFrame's output attribute ids with the
    boundedness of the plan it truncated (see CHECKPOINT_COLS_BOUNDED).
    Called by plans.guard.certified_local_checkpoint."""
    app = df_ck.sparkSession.sparkContext.applicationId
    if _CHECKPOINT_APP and _CHECKPOINT_APP[0] != app:
        clear_checkpoint_bounds()
    if not _CHECKPOINT_APP:
        _CHECKPOINT_APP.append(app)
    out = df_ck._jdf.queryExecution().analyzed().output()
    names = []
    for i in range(out.size()):
        attr = out.apply(i)
        key = f"{attr.name()}#{attr.exprId().id()}"
        CHECKPOINT_COLS_BOUNDED[key] = is_bounded
        names.append(attr.name())
    nameset = frozenset(names)
    CHECKPOINT_NAMES_BOUNDED[nameset] = (
        CHECKPOINT_NAMES_BOUNDED.get(nameset, True) and is_bounded
    )


def literal_df(spark, data, schema=None):
    """The ONLY sanctioned ``createDataFrame`` call in the package:
    build a driver-side literal table and register its output attrs
    as bounded.  PySpark's createDataFrame compiles to a LogicalRDD
    (same leaf a checkpoint truncates to), so under the fail-closed
    sweep (``strict_logical_rdd``) an unregistered literal would be
    classified corpus-scale; registering at creation keeps the strict
    default sound — every package-made LogicalRDD is registered, so
    "unknown = unbounded" has no false positives.  A grep-guard
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


def unregister_checkpoint_bounds(df_ck) -> None:
    """Drop a freed checkpoint's attr-id entries (called by
    operators.graph._free_checkpoint once the blocks are released and
    the plan can never be referenced again).  Name-SET entries stay:
    other live checkpoints may share the schema, and the set count is
    bounded by distinct schemas, not by iterations."""
    try:
        out = df_ck._jdf.queryExecution().analyzed().output()
        for i in range(out.size()):
            attr = out.apply(i)
            CHECKPOINT_COLS_BOUNDED.pop(
                f"{attr.name()}#{attr.exprId().id()}", None
            )
    except Exception:
        pass  # best-effort, like the block free itself


def _logical_rdd_bounded(text: str) -> bool:
    """A LogicalRDD is bounded unless a registered checkpoint column
    says its source plan was corpus-scale.  Plan text prints attrs as
    ``name#123L`` (type suffix after the id); the lookup key is
    ``name#123``, which the id regex extracts directly.

    Unknown attrs (never registered): bounded by default — at the
    certification seam the only unregistered LogicalRDDs are driver
    literals.  Under ``strict_logical_rdd()`` (the registry-wide
    sweep) the default flips to fail-closed: an unknown LogicalRDD is
    unbounded unless its column-name SET matches a checkpoint the
    seam registered as bounded (DeduplicateRelations re-ids self-join
    attrs; the name-set survives)."""
    attrs = [
        m.group(0)
        for m in re.finditer(
            r"[A-Za-z_][A-Za-z0-9_]*#\d+", _first_bracket(text)
        )
    ]
    known = [CHECKPOINT_COLS_BOUNDED[a] for a in attrs if a in CHECKPOINT_COLS_BOUNDED]
    if any(k is False for k in known):
        return False
    if not _STRICT_LOGICAL_RDD:
        return True
    if attrs and len(known) == len(attrs):
        return True  # every attr registered bounded
    nameset = frozenset(a.split("#", 1)[0] for a in attrs)
    return CHECKPOINT_NAMES_BOUNDED.get(nameset, False)


def bounded(node: Node) -> bool:
    name = node.name
    if name in ("GlobalLimit", "LocalLimit"):
        return True
    if name == "Filter" and _filter_pins_entity(node.text):
        return True
    if name == "LogicalRDD":
        return _logical_rdd_bounded(node.text)
    if name in ("LocalRelation", "OneRowRelation", "Range"):
        # driver-side literal tables
        return True
    if name == "Relation":
        return classify_relation(node.text)[1]
    if name == "Aggregate":
        if _keys_unbounded(_grouping_keys(node.text)):
            return False
        return True
    if name == "Deduplicate":
        if _keys_unbounded(_first_bracket(node.text)):
            return False
        return True
    if name == "Join":
        kind = node.text.split(" ")[1].rstrip(",") if " " in node.text else ""
        kids = node.children
        if not kids:
            return False
        if kind in ("LeftSemi", "LeftAnti") and len(kids) >= 1:
            return bounded(kids[0])
        return all(bounded(k) for k in kids)
    if not node.children:
        return False
    return all(bounded(k) for k in node.children)


def _why_unbounded(node: Node) -> str:
    """First node that breaks the bounded certificate, for diagnosis."""
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


def _hinted_offenders_of(root: Node) -> list[str]:
    bad: list[str] = []

    def walk(n: Node) -> None:
        if n.name == "Join" and "strategy=broadcast" in n.text:
            kids = list(n.children)
            if "leftHint=(strategy=broadcast" in n.text and kids:
                if not bounded(kids[0]):
                    why = _why_unbounded(kids[0])
                    bad.append(f"LEFT [{why}] of: " + n.text[:140])
            if "rightHint=(strategy=broadcast" in n.text and len(kids) >= 2:
                if not bounded(kids[-1]):
                    why = _why_unbounded(kids[-1])
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
    return df._jdf.queryExecution().optimizedPlan().toString()


_CERT_ONCE: dict[tuple, bool] = {}


def _cert_profile(df) -> tuple:
    """Cache key payload for ``certify_once``: a fingerprint of the
    ANALYZED plan's shape plus the registered boundedness of every
    LogicalRDD leaf (round 12, ADVICE r11).

    The r11 cache keyed only (appId, label), which reused a verdict
    across CALLS with different inputs: a first connected_components
    over a bounded test graph cached ``cc_labels=True``, so a later
    corpus-scale call registered ITS loop checkpoints as bounded and a
    downstream broadcast of them passed the strict sweep — a false
    negative in the very guard the seam hardens (and the reverse
    direction stuck false positives).  Quantized and unquantized
    pagerank also shared the 'pagerank_ranks' key despite different
    loop bodies.

    This profile makes the key input- and shape-sensitive while
    keeping the saving (one full Catalyst optimizer pass per loop
    round) intact:

    * shape: the analyzed plan text with attr ids stripped — stable
      across a loop's rounds (each round re-ids its checkpoint
      leaves but the body is fixed code), different between loop
      bodies (quantized pagerank embeds FLOOR/decimal casts and
      n-dependent literals the plain body doesn't) and between scans
      of different paths.  Analysis is already done eagerly by
      PySpark, so rendering it costs a toString, not an optimizer
      pass.
    * leaves: each LogicalRDD leaf's strict-mode boundedness under
      the CURRENT checkpoint registry.  Equal profiles ⇒ the
      boundedness classifier sees the same tree with the same leaf
      verdicts ⇒ the cached full-plan verdict is the verdict this
      call would compute.
    """
    spark = df.sparkSession
    # full node strings (same contract as certify_no_unbounded_hints):
    # a truncated attr list would fingerprint a wrong name-set
    if spark.conf.get("spark.sql.debug.maxToStringFields", "25") != "2000":
        spark.conf.set("spark.sql.debug.maxToStringFields", "2000")
    txt = df._jdf.queryExecution().analyzed().toString()
    leaves: list[tuple] = []

    def walk(n: Node) -> None:
        if n.name == "LogicalRDD":
            with strict_logical_rdd():
                verdict = _logical_rdd_bounded(n.text)
            leaves.append(
                (frozenset(_COLREF.findall(n.text)), verdict)
            )
        for k in n.children:
            walk(k)

    walk(parse_plan(txt))
    shape = re.sub(r"#\d+", "#", txt)
    return (hash(shape), tuple(leaves))


def certified_local_checkpoint(
    df, label: str, eager: bool = True, certify_once: bool = False
):
    """The ONLY sanctioned ``localCheckpoint`` call in the package
    (round 11, VERDICT r10 item #3): certify the PRE-checkpoint
    optimized plan hint-bounded, checkpoint, then register the
    truncated plan's output attr ids with its boundedness so a
    downstream ``F.broadcast()`` of the checkpoint is classifiable.

    ``queries._util.supersede_checkpoint`` wraps this with staging /
    free-on-release lifecycle for query builders; ``operators/graph.py``
    calls it directly inside its iterative loops (which run their own
    free-on-supersede lifecycle via ``_free_checkpoint``).  A grep-guard
    (tests/test_plans.py::test_no_bare_localcheckpoint_in_package)
    keeps bare ``.localCheckpoint(`` out of every other module, so no
    checkpoint seam can bypass certification.

    ``eager=False`` defers materialization to the caller's next action
    (the iterative loops' per-round checksum/convergence aggregate) —
    certification happens at plan-build time either way.

    Certification runs fail-closed (``strict_logical_rdd``): at this
    seam every LogicalRDD leaf is either an earlier certified
    checkpoint or a ``literal_df`` literal — both registered — so an
    UNREGISTERED LogicalRDD under a hint here is a bypass, not a
    literal.  This extends the registry-wide sweep's strict default to
    the plans the sweep can't see: the per-iteration loop plans of the
    iterative operators it SKIPs (CC / star / PageRank).

    ``certify_once=True`` (the iterative-loop sites): certify the
    FIRST plan built under this (app, label, profile) and reuse its
    verdict for later rounds — the loop body is fixed code, so every
    round's plan is shape-identical up to LogicalRDD leaf ids and a
    hint introduced by a code change is present in round 1; skipping
    rounds 2..k saves one full Catalyst optimizer pass per round on
    the driver's critical path (~50 passes per cc_star call at
    max_iter=25).  The key carries :func:`_cert_profile` (analyzed
    shape + per-leaf boundedness), so a later call with DIFFERENT
    inputs or a different loop body recomputes instead of reusing a
    stale verdict (ADVICE r11: the (app, label)-only key leaked a
    bounded test graph's verdict onto a corpus-scale call)."""
    if certify_once:
        app = df.sparkSession.sparkContext.applicationId
        key = (app, label, _cert_profile(df))
        if key in _CERT_ONCE:
            is_bounded = _CERT_ONCE[key]
        else:
            # a fresh JVM restarts exprIds; stale-app entries can
            # never hit again — drop them instead of growing forever
            for k in [k for k in _CERT_ONCE if k[0] != app]:
                del _CERT_ONCE[k]
            with strict_logical_rdd():
                is_bounded = certify_no_unbounded_hints(df, label)
            _CERT_ONCE[key] = is_bounded
    else:
        with strict_logical_rdd():
            is_bounded = certify_no_unbounded_hints(df, label)
    ck = df.localCheckpoint(eager=eager)
    register_checkpoint_bounds(ck, is_bounded)
    return ck




def certify_no_unbounded_hints(df, label: str) -> bool:
    """Raise if ``df``'s optimized plan carries a broadcast hint on a
    subtree not provably bounded.  Called by
    ``queries._util.supersede_checkpoint`` on every staged table
    BEFORE ``localCheckpoint()`` materializes it — the only moment the
    hinted lineage is still visible (afterwards the plan is one
    ``LogicalRDD`` leaf and the registry-wide sweep certifies a
    vacuous truth).  Returns whether the WHOLE plan is bounded, so the
    caller can register the checkpoint's columns for downstream
    LogicalRDD classification (see CHECKPOINT_COLS_BOUNDED)."""
    # full node strings: a length-truncated Aggregate line hides its
    # grouping keys from the boundedness classifier (set once/session)
    if df.sparkSession.conf.get("spark.sql.debug.maxToStringFields", "25") != "2000":
        df.sparkSession.conf.set("spark.sql.debug.maxToStringFields", "2000")
    root = parse_plan(optimized_plan(df))
    hits = _hinted_offenders_of(root)
    if hits:
        raise AssertionError(
            f"unbounded broadcast hint behind checkpoint {label!r}: {hits}"
        )
    return bounded(root)
