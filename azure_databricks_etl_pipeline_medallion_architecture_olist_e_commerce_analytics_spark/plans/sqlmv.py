"""Materialized-view DDL wrapper parser (S9–S10, Q3/Q4).

The reference's entire gold layer is SQL files headed by a Databricks DLT
DDL wrapper (/root/reference/scripts/gold/fact_order_items.sql:1-19):

    CREATE OR REFRESH MATERIALIZED VIEW gold.fact_order_items
    (
      CONSTRAINT fk_product EXPECT (product_key IS NOT NULL) ON VIOLATION FAIL UPDATE,
      CONSTRAINT valid_item_total EXPECT (item_total_value IS NOT NULL AND ...),
      ...
    )
    CLUSTER BY (product_key, seller_key, order_date_key, customer_key)
    COMMENT "..."
    TBLPROPERTIES ( 'quality' = 'gold', ... )
    AS
    <SELECT body with LIVE./schema.table references>

Spark has no MATERIALIZED VIEW DDL, so the engine parses this small wrapper
itself (SURVEY.md §3.2: "parse the small DDL wrapper with a ~100-LoC
regex/grammar") and registers the result into a :class:`Pipeline` as an ``mv``
dataset: full-refresh overwrite on run, constraints mapped to the
expectations layer (EXPECT → warn, ON VIOLATION FAIL UPDATE → fail,
ON VIOLATION DROP ROW → drop), CLUSTER BY → the sink's clustering fallback
(a PARTITIONED BY clause is rejected, not silently dropped),
and the SELECT body handed to Spark SQL with ``LIVE.`` references resolved by
the registry (registry.py ``_run_sql``).

The parser is deliberately wrapper-only: everything after ``AS`` is untouched
SQL that Catalyst parses/optimizes — the engine never re-implements SQL.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .expectations import DROP, FAIL, WARN, Expectation
from .registry import Pipeline

_HEADER_RE = re.compile(
    r"^\s*CREATE\s+OR\s+REFRESH\s+(?:MATERIALIZED\s+VIEW|LIVE\s+TABLE)\s+"
    r"(?P<name>[A-Za-z_][\w.]*)",
    re.IGNORECASE,
)
_CONSTRAINT_RE = re.compile(
    r"CONSTRAINT\s+(?P<cname>[A-Za-z_]\w*)\s+EXPECT\s*\((?P<pred>.*?)\)\s*"
    r"(?:ON\s+VIOLATION\s+(?P<action>FAIL\s+UPDATE|DROP\s+ROW))?\s*(?:,|$)",
    re.IGNORECASE | re.DOTALL | re.MULTILINE,
)
_CLUSTER_RE = re.compile(r"CLUSTER\s+BY\s*\((?P<cols>[^)]*)\)", re.IGNORECASE)
_COMMENT_RE = re.compile(r"COMMENT\s+(\"(?P<c1>[^\"]*)\"|'(?P<c2>[^']*)')", re.IGNORECASE)
_TBLPROP_RE = re.compile(r"TBLPROPERTIES\s*\((?P<body>.*?)\)", re.IGNORECASE | re.DOTALL)
_PROP_PAIR_RE = re.compile(r"'(?P<k>[^']+)'\s*=\s*'(?P<v>[^']*)'")
_AS_SPLIT_RE = re.compile(r"\bAS\b(?=\s*(?:WITH|SELECT)\b)", re.IGNORECASE)


@dataclass
class MvSpec:
    name: str
    select_sql: str
    comment: str = ""
    expectations: list[Expectation] = field(default_factory=list)
    cluster_by: tuple = ()
    table_properties: dict = field(default_factory=dict)


def _strip_line_comments(sql: str) -> str:
    """Drop ``-- ...`` comments (header zone only; the body keeps its text)."""
    return "\n".join(line.split("--", 1)[0] for line in sql.splitlines())


def parse_mv_ddl(ddl: str) -> MvSpec:
    """Parse one ``CREATE OR REFRESH MATERIALIZED VIEW`` file into a spec."""
    m = _AS_SPLIT_RE.search(ddl)
    if not m:
        raise ValueError("MV DDL missing 'AS SELECT ...' body")
    header, select_sql = ddl[: m.start()], ddl[m.end() :].strip()

    header = _strip_line_comments(header)
    hm = _HEADER_RE.match(header)
    if not hm:
        raise ValueError("not a CREATE OR REFRESH MATERIALIZED VIEW statement")
    name = hm.group("name")
    if re.search(r"\bPARTITIONED\s+BY\b", _COMMENT_RE.sub("", header), re.IGNORECASE):
        # the engine lays MVs out by CLUSTER BY only; a partitioned MV would
        # otherwise be written unpartitioned without a word
        raise ValueError(
            f"{name}: PARTITIONED BY is not supported on a materialized view; "
            "use CLUSTER BY"
        )

    expectations = []
    for cm in _CONSTRAINT_RE.finditer(header):
        action_txt = (cm.group("action") or "").upper().replace(" ", "")
        action = {"FAILUPDATE": FAIL, "DROPROW": DROP}.get(action_txt, WARN)
        expectations.append(
            Expectation(cm.group("cname"), " ".join(cm.group("pred").split()), action)
        )

    def _cols(rx):
        cm = rx.search(header)
        if not cm:
            return ()
        return tuple(c.strip() for c in cm.group("cols").split(",") if c.strip())

    comment = ""
    cm = _COMMENT_RE.search(header)
    if cm:
        comment = cm.group("c1") or cm.group("c2") or ""

    props = {}
    pm = _TBLPROP_RE.search(header)
    if pm:
        props = {p.group("k"): p.group("v") for p in _PROP_PAIR_RE.finditer(pm.group("body"))}

    return MvSpec(
        name=name,
        select_sql=select_sql,
        comment=comment,
        expectations=expectations,
        cluster_by=_cols(_CLUSTER_RE),
        table_properties=props,
    )


def register_mv_sql(pipeline: Pipeline, ddl: str) -> MvSpec:
    """Parse an MV DDL file and register it into the pipeline."""
    spec = parse_mv_ddl(ddl)
    pipeline.materialized_view(
        spec.name,
        sql=spec.select_sql,
        comment=spec.comment,
        table_properties=spec.table_properties,
        expectations=spec.expectations,
        cluster_by=spec.cluster_by,
    )
    return spec


def register_mv_file(pipeline: Pipeline, path: str) -> MvSpec:
    with open(path) as f:
        return register_mv_sql(pipeline, f.read())
