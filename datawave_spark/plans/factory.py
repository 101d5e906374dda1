"""QueryLogicFactory — the REST create path as one callable surface.

Reference: the reference's primary API is ``POST /Query/{logicName}/
create`` with form parameters (query, querySyntax, begin, end, auths,
pagesize, ...): QueryExecutorBean.createQuery
(web-services/query/.../runner/QueryExecutorBean.java:664) validates
parameters (QueryParametersImpl), audits, resolves the logic by name
through QueryLogicFactoryImpl (core/query/.../logic/
QueryLogicFactoryImpl.java), initializes it, and wraps the result in a
RunningQuery for paging.  A reference user never touches ShardQueryLogic
directly — they name a logic and pass parameters.

Spark restatement: ``QueryLogicFactory`` binds logic names to builder
functions over a table registry; ``create`` runs the same pipeline —
parameter validation, audit-record construction (selector extraction
over the real AST), date-range pruning on the shard column, the
logic's plan, per-caller result caps — and returns a ``RunningQuery``
whose ``pages()`` iterates without a driver collect.

Built-in logics mirror the reference's stock deployment: EventQuery,
CountQuery (CountingShardQueryLogic), DiscoveryQuery, FieldIndexCount
(facets), EdgeQuery, LookupUUID.  Deployments register more with
``factory.register`` (QueryLogicFactoryImpl's Spring bean list).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from datawave_spark.plans.audit import AuditRecord, audit_record


@dataclass(frozen=True)
class QueryParameters:
    """QueryParametersImpl field set (the REST form params)."""
    query: str
    syntax: str = "JEXL"                  # JEXL | LUCENE | LUCENE-UUID...
    begin: str | None = None              # ISO date, inclusive
    end: str | None = None                # ISO date, inclusive
    auths: str = ""
    pagesize: int = 100
    user_dns: tuple[str, ...] = ()
    logic_params: dict = dc_field(default_factory=dict)

    def validate(self) -> None:
        """QueryParametersImpl.validate: required params present, sane
        pagesize, begin/end PARSE as ISO dates and order correctly —
        a malformed date must be rejected here, not silently cast to
        NULL downstream (which would filter every row)."""
        import datetime as _dt
        if not self.query:
            raise ValueError("query parameter is required")
        if self.pagesize <= 0:
            raise ValueError(f"invalid pagesize {self.pagesize}")
        b = e = None
        try:
            if self.begin:
                b = _dt.date.fromisoformat(self.begin)
            if self.end:
                e = _dt.date.fromisoformat(self.end)
        except ValueError as exc:
            raise ValueError(f"invalid begin/end date: {exc}") from None
        if b and e and b > e:
            raise ValueError(f"begin {self.begin} after end {self.end}")


@dataclass
class RunningQuery:
    """RunningQuery.java:56 — the created query: result plan, audit
    record, page cursor."""
    query_id: str
    logic_name: str
    df: DataFrame
    audit: AuditRecord
    pagesize: int = 100
    _cursor: object = None

    def pages(self):
        """GET /Query/{id}/next loop — driver sees one page at a time."""
        page = []
        for row in self.df.toLocalIterator():
            page.append(row)
            if len(page) >= self.pagesize:
                yield page
                page = []
        if page:
            yield page


class QueryLogicFactory:
    """Logic-name → builder registry over a table registry
    (QueryLogicFactoryImpl analog).

    ``tables`` maps logical table names ("events", "documents",
    "edges") to DataFrames; ``date_col`` is the shard column begin/end
    prune against; ``planner_kwargs`` pass through to the EventQuery
    planner (models, thresholds, dn_result_limits, ...)."""

    def __init__(self, tables: dict[str, DataFrame], *,
                 date_col: str = "ts",
                 discovery_fields: list[str] | None = None,
                 uid_col: str = "uid",
                 content_table: str = "documents",
                 content_id: str = "doc_id",
                 content_col: str = "text",
                 edge_source_field: str | None = None,
                 edge_sink_field: str | None = None,
                 **planner_kwargs):
        self.tables = tables
        self.date_col = date_col
        self.discovery_fields = discovery_fields or []
        self.uid_col = uid_col
        self.content_table = content_table
        self.content_id = content_id
        self.content_col = content_col
        self.edge_source_field = edge_source_field
        self.edge_sink_field = edge_sink_field
        self.planner_kwargs = planner_kwargs
        self._logics: dict[str, Callable] = {
            "EventQuery": self._event_query,
            "CountQuery": self._count_query,
            "DiscoveryQuery": self._discovery_query,
            "FieldIndexCountQuery": self._field_index_count,
            "FacetedQuery": self._field_index_count,
            "EdgeQuery": self._edge_query,
            "EdgeEventQuery": self._edge_event_query,
            "LookupUUID": self._lookup_uuid,
            "ContentQuery": self._content_query,
            "TLDEventQuery": self._tld_query,
            "AncestorQuery": self._ancestor_query,
            "ParentQuery": self._parent_query,
        }
        self._seq = 0

    def register(self, name: str,
                 builder: Callable[["QueryLogicFactory", QueryParameters],
                                   DataFrame]) -> None:
        self._logics[name] = lambda qp, b=builder: b(self, qp)

    def logic_names(self) -> list[str]:
        """GET /Query/listQueryLogic."""
        return sorted(self._logics)

    def create(self, logic_name: str, qp: QueryParameters) -> RunningQuery:
        """The create path: validate → audit → resolve logic → plan →
        cap → RunningQuery (QueryExecutorBean.createQuery:664).

        ``qp.auths`` (comma-separated) filters the events table through
        ``visibility.filter_by_auths`` when that table has a
        ``visibility`` column.  An empty ``auths`` applies no filter:
        the table is taken as already visibility-filtered, or unlabeled."""
        qp.validate()
        if logic_name not in self._logics:
            raise KeyError(f"unknown query logic {logic_name!r}; "
                           f"known: {self.logic_names()}")
        audit = audit_record(qp.query, logic_name,
                             ",".join(qp.user_dns) or "unknown", qp.auths)
        df = self._logics[logic_name](qp)
        self._seq += 1
        return RunningQuery(query_id=f"q-{self._seq}",
                            logic_name=logic_name, df=df, audit=audit,
                            pagesize=qp.pagesize)

    # ----------------------------------------------------- built-ins

    def _events(self, qp: QueryParameters) -> DataFrame:
        """The events table as the caller's auths see it."""
        events = self.tables["events"]
        if qp.auths and "visibility" in events.columns:
            from datawave_spark.visibility import filter_by_auths
            events = filter_by_auths(
                events, [a.strip() for a in qp.auths.split(",")])
        return events

    def _dated(self, df: DataFrame, qp: QueryParameters) -> DataFrame:
        """begin/end date-range prune on the shard column — partition
        pruning when the table is date-partitioned."""
        c = F.col(self.date_col).cast("date")
        if qp.begin:
            df = df.filter(c >= F.lit(qp.begin).cast("date"))
        if qp.end:
            df = df.filter(c <= F.lit(qp.end).cast("date"))
        return df

    def _planner(self, df: DataFrame):
        from datawave_spark.plans.planner import QueryPlanner
        return QueryPlanner(df, **self.planner_kwargs)

    def _event_query(self, qp: QueryParameters) -> DataFrame:
        src = self._dated(self._events(qp), qp)
        res = self._planner(src).plan(
            qp.query, syntax=qp.syntax,
            user_dns=list(qp.user_dns) or None)
        return res.df

    def _count_query(self, qp: QueryParameters) -> DataFrame:
        return self._event_query(qp).agg(
            F.count(F.lit(1)).alias("record_count"))

    def _need_discovery_fields(self) -> list[str]:
        if not self.discovery_fields:
            raise ValueError("Discovery-family logics need the "
                             "discovery_fields factory config")
        return self.discovery_fields

    def _discovery_query(self, qp: QueryParameters) -> DataFrame:
        from datawave_spark.operators.discovery import discovery
        src = self._dated(self._events(qp), qp)
        return discovery(src, self._need_discovery_fields(), self.date_col)

    def _field_index_count(self, qp: QueryParameters) -> DataFrame:
        from datawave_spark.operators.discovery import facets
        fields = self._need_discovery_fields()
        hits = self._event_query(qp)
        return facets(hits, fields)

    def _edge_query(self, qp: QueryParameters) -> DataFrame:
        from datawave_spark.edges import edge_query
        return edge_query(self.tables["edges"], qp.query)

    def _lookup_uuid(self, qp: QueryParameters) -> DataFrame:
        from datawave_spark.plans.lookup import lookup_uuid
        field, _, value = qp.query.partition(":")
        if not value:
            raise ValueError("LookupUUID query must be FIELD:value")
        return lookup_uuid(self._events(qp), field.lower(), value)

    def _edge_event_query(self, qp: QueryParameters) -> DataFrame:
        from datawave_spark.edges import edge_events, edge_query
        if not (self.edge_source_field and self.edge_sink_field):
            raise ValueError("EdgeEventQuery needs edge_source_field/"
                             "edge_sink_field factory config")
        sel = edge_query(self.tables["edges"], qp.query)
        return edge_events(sel, self._dated(self._events(qp), qp),
                           self.edge_source_field, self.edge_sink_field)

    def _content_query(self, qp: QueryParameters) -> DataFrame:
        from datawave_spark.plans.lookup import fetch_content
        ids = [s.strip() for s in qp.query.split(",") if s.strip()]
        if not ids:
            raise ValueError("ContentQuery query must be id[,id...]")
        tbl = self.tables[self.content_table]
        typed = [type(tbl.schema[self.content_id].dataType).__name__]
        if typed[0] in ("LongType", "IntegerType"):
            ids = [int(i) for i in ids]
        return fetch_content(tbl, self.content_id, ids, self.content_col)

    def _uid_frame(self, qp: QueryParameters) -> DataFrame:
        df = self._dated(self._events(qp), qp)
        if self.uid_col not in df.columns:
            raise ValueError(f"TLD-family logics need a {self.uid_col!r} "
                             f"column (factory uid_col config)")
        return df

    def _tld_query(self, qp: QueryParameters) -> DataFrame:
        from datawave_spark.operators.tld import tld_rollup
        return tld_rollup(self._uid_frame(qp), qp.query,
                          uid_col=self.uid_col)

    def _ancestor_query(self, qp: QueryParameters) -> DataFrame:
        from datawave_spark.operators.tld import ancestors_match
        return ancestors_match(self._uid_frame(qp), qp.query,
                               uid_col=self.uid_col)

    def _parent_query(self, qp: QueryParameters) -> DataFrame:
        from datawave_spark.operators.tld import parent_query
        return parent_query(self._uid_frame(qp), qp.query,
                            uid_col=self.uid_col)
