"""Query templates: what each client asks, and how the answer is checked.

Every operation is an ``Op``: the logic and query string the client
sends, the begin/end window, the auth set, and the oracle's SQL for the
same question over the raw generated files.  Both sides reduce their
answer to a list of canonical strings (``canon``), compared by count and
by a hash of the sorted list.

The operation mix is a fixed cycle per workload; the seed only picks the
values (terms, thresholds, windows, phrases, uuids), so two seeds ask
the same kinds of questions in the same proportions.
"""

from __future__ import annotations

import datetime as dt
import hashlib
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from wavebench import gen

AUTH_SETS = (("Euro",), ("NA",), ("Euro", "NA", "Private"))
#: labels each auth set may see (the oracle's own table, independent of
#: the program's ColumnVisibility evaluator)
VISIBLE = (("", "Euro", "Euro|NA"), ("", "NA", "Euro|NA"), gen.LABELS)
FULL = (gen.START.date().isoformat(),
        (gen.START + dt.timedelta(days=gen.DAYS - 1)).date().isoformat())
LIVE = gen.LIVE_DAY.date().isoformat()
#: single-valued fields DiscoveryQuery reports term counts for
DISCOVERY_FIELDS = ("country", "code")

# canon kinds
UUIDS, COUNT, GROUPS, VALUES, EDGES, DISCOVERY = (
    "uuids", "count", "groups", "values", "edges", "discovery")


@dataclass(frozen=True)
class Op:
    cls: str                 # operation class, for per-class latency
    logic: str               # factory logic, or "IndexQuery"
    query: str
    syntax: str
    begin: str | None
    end: str | None
    auth: int                # index into AUTH_SETS
    canon: str
    where: str               # oracle predicate over table ``ev``
    edge_where: str = ""     # EDGES only: predicate on the exploded source

    def oracle_sql(self) -> str:
        labels = ", ".join(f"'{v}'" for v in VISIBLE[self.auth])
        where = f"({self.where}) AND vis IN ({labels})"
        if self.begin:
            where += (f" AND CAST(ts AS DATE) BETWEEN DATE '{self.begin}'"
                      f" AND DATE '{self.end}'")
        if self.canon == UUIDS:
            sql = f"SELECT uuid FROM ev WHERE {where}"
            if self.logic == "LookupUUID":
                sql += " LIMIT 1"
            return sql
        if self.canon == COUNT:
            return f"SELECT CAST(count(*) AS VARCHAR) FROM ev WHERE {where}"
        if self.canon == GROUPS:
            return (f"SELECT country || '|' || code || '|' || count(*) FROM ev"
                    f" WHERE {where} GROUP BY country, code")
        if self.canon == VALUES:
            return f"SELECT DISTINCT code FROM ev WHERE {where}"
        if self.canon == DISCOVERY:
            # one (field, value, day) count per discovery field
            return " UNION ALL ".join(
                f"SELECT '{f}|' || {f} || '|' || "
                f"CAST(CAST(ts AS DATE) AS VARCHAR) || '|' || count(*) "
                f"FROM ev WHERE {where} GROUP BY {f}, CAST(ts AS DATE)"
                for f in DISCOVERY_FIELDS)
        if self.canon == EDGES:
            # the edge table is built over every event: no visibility
            return ("SELECT c || '|' || country || '|' || "
                    "CAST(CAST(ts AS DATE) AS VARCHAR) FROM "
                    "(SELECT unnest(city) AS c, country, ts FROM ev "
                    f"WHERE {self.where}) WHERE {self.edge_where}")
        raise ValueError(self.canon)


def canon_rows(op: Op, rows: list) -> list[str]:
    """The program's answer rows as canonical strings."""
    if op.canon == UUIDS:
        return [r["uuid"] for r in rows]
    if op.canon == COUNT:
        return [str(r["record_count"]) for r in rows]
    if op.canon == GROUPS:
        return [f"{r['COUNTRY']}|{r['CODE']}|{r['record_count']}"
                for r in rows]
    if op.canon == VALUES:
        return [r["code"] for r in rows]
    if op.canon == DISCOVERY:
        return [f"{r['field']}|{r['value']}|{r['day'].isoformat()}|{r['cnt']}"
                for r in rows]
    if op.canon == EDGES:
        return [f"{r['source']}|{r['sink']}|{r['edge_date'].isoformat()}"
                for r in rows]
    raise ValueError(op.canon)


def digest(values: list[str]) -> tuple[int, str]:
    h = hashlib.sha1("\n".join(sorted(values)).encode()).hexdigest()
    return len(values), h


# ------------------------------------------------------------ choosers

class Chooser:
    """Seeded picks over the generated vocabularies and raw data."""

    def __init__(self, seed: int, manifest: dict, salt: int):
        def column(feed: tuple[str, str], name: str) -> list:
            return pq.read_table(manifest["base"][feed],
                                 columns=[name]).column(name).to_pylist()

        self.rng = np.random.default_rng([seed, salt])
        # lookups hit an unmarked and a marked feed, so some are hidden
        # from some auth sets
        self.uuids = (column(("city", ""), "uuid")
                      + column(("doc", "Euro|NA"), "uuid"))

    def i(self, lo: int, hi: int) -> int:
        return int(self.rng.integers(lo, hi))

    # Value picks stay within a narrow frequency band, so an operation
    # does about the same work whatever the seed.

    def city(self) -> str:
        return gen.Vocab.cities[self.i(20, 30)]

    def country(self, lo: int, hi: int) -> str:
        return gen.Vocab.countries[self.i(lo, hi)]

    def code(self) -> str:
        return gen.Vocab.codes[self.i(100, 130)]

    def window(self, width: int) -> tuple[str, str]:
        start = gen.START + dt.timedelta(days=self.i(0, gen.DAYS - width + 1))
        end = start + dt.timedelta(days=width - 1)
        return start.date().isoformat(), end.date().isoformat()

    def phrase(self) -> tuple[str, str]:
        w = gen.Vocab.words
        return w[self.i(0, 6)], w[self.i(0, 6)]

    def uuid(self) -> str:
        return self.uuids[self.i(0, len(self.uuids))]


def _interactive(c: Chooser, slot: int, auth: int) -> Op:
    """Selective lookups; each slot has its own window width (1-5
    days), the seed picks where the window starts."""
    b, e = c.window(1 + slot % 5)
    if slot == 0:
        city, n = c.city(), c.i(400, 600)
        return Op("event_jexl", "EventQuery",
                  f"CITY == '{city}' && NUM < {n}", "JEXL", b, e, auth, UUIDS,
                  f"list_contains(city, '{city}') AND num < {n}")
    if slot == 1:
        country, code = c.country(4, 8), c.code()
        return Op("event_lucene", "EventQuery",
                  f"COUNTRY:{country} OR CODE:{code}", "LUCENE", b, e, auth,
                  UUIDS, f"country = '{country}' OR code = '{code}'")
    if slot == 2:
        w1, w2 = c.phrase()
        return Op("content", "EventQuery",
                  f"content:phrase(BODY, '{w1}', '{w2}')", "JEXL", b, e, auth,
                  UUIDS, f"datatype = 'doc' AND "
                         f"(' ' || body || ' ') LIKE '% {w1} {w2} %'")
    if slot == 3:
        country, n = c.country(4, 8), c.i(400, 600)
        return Op("count", "CountQuery",
                  f"COUNTRY == '{country}' && NUM > {n}", "JEXL", b, e, auth,
                  COUNT, f"country = '{country}' AND num > {n}")
    if slot == 4:
        city, country = c.city(), c.country(0, 3)
        return Op("edge", "EdgeQuery",
                  f"SOURCE == '{city}' && SINK == '{country}'", "JEXL",
                  None, None, auth, EDGES,
                  f"list_contains(city, '{city}') AND country = '{country}'",
                  f"c = '{city}'")
    if slot == 5:
        uuid = c.uuid()
        return Op("lookup", "LookupUUID", f"UUID:{uuid}", "JEXL",
                  None, None, auth, UUIDS, f"uuid = '{uuid}'")
    if slot == 6:
        w1, w2 = c.phrase()
        return Op("content", "EventQuery", f'BODY:"{w1} {w2}"', "LUCENE",
                  b, e, auth, UUIDS,
                  f"datatype = 'doc' AND "
                  f"(' ' || body || ' ') LIKE '% {w1} {w2} %'")
    if slot == 7:
        city, country = c.city(), c.country(0, 3)
        return Op("index", "IndexQuery",
                  f"CITY == '{city}' && COUNTRY == '{country}'", "JEXL", b, e,
                  auth, UUIDS,
                  f"list_contains(city, '{city}') AND country = '{country}'")
    city, country = c.city(), c.country(0, 3)
    return Op("event_lucene", "EventQuery",
              f"CITY:{city} AND NOT COUNTRY:{country}", "LUCENE", b, e, auth,
              UUIDS,
              f"list_contains(city, '{city}') AND country <> '{country}'")


def _analytic(c: Chooser, slot: int, auth: int) -> Op:
    """Unselective scans over every day.  The seed only nudges each
    predicate (a mid-frequency country to exclude, a threshold within a
    few percent), so the work per operation is nearly the same for
    every seed."""
    b, e = FULL
    country = c.country(10, gen.N_COUNTRIES)
    if slot == 0:
        rx = "city0.*"
        return Op("groupby", "EventQuery",
                  f"CITY =~ '{rx}' && !(COUNTRY == '{country}') "
                  f"&& f:groupby(COUNTRY, CODE)", "JEXL", b, e, auth, GROUPS,
                  f"len(list_filter(city, x -> regexp_full_match(x, '{rx}')))"
                  f" > 0 AND NOT (country = '{country}')")
    if slot == 1:
        n = c.i(490, 510)
        return Op("unique", "EventQuery",
                  f"NUM > {n} && !(COUNTRY == '{country}') && f:unique(CODE)",
                  "JEXL", b, e, auth, VALUES,
                  f"num > {n} AND NOT (country = '{country}')")
    if slot == 2:
        n, rx = c.i(240, 260), "city[01].*"
        return Op("count_exists", "CountQuery",
                  f"CITY != null && CITY =~ '{rx}' && !(NUM < {n})", "JEXL",
                  b, e, auth, COUNT,
                  f"len(city) > 0 AND len(list_filter(city, x -> "
                  f"regexp_full_match(x, '{rx}'))) > 0 AND NOT (num < {n})")
    if slot == 3:
        return Op("discovery", "DiscoveryQuery", "COUNTRY != null", "JEXL",
                  b, e, auth, DISCOVERY, "TRUE")
    n = c.i(390, 410)
    return Op("groupby", "EventQuery",
              f"NUM < {n} && !(COUNTRY == '{country}') "
              f"&& f:groupby(COUNTRY, CODE)", "JEXL", b, e, auth, GROUPS,
              f"num < {n} AND NOT (country = '{country}')")


def live_probe() -> Op:
    """Freshness probe: how many live events a reader holding every
    auth can see."""
    return Op("probe", "CountQuery", "NUM >= 0", "JEXL", LIVE, LIVE, 2,
              COUNT, "num >= 0")


#: cycle lengths are odd multiples of a class block so that the median
#: falls inside one operation class, not in the gap between two
INTERACTIVE_CYCLE = 9
ANALYTIC_CYCLE = 5


def _auth(i: int, cycle: int) -> int:
    """Rotate the auth sets so each slot of the cycle meets all three."""
    return (i + i // cycle) % len(AUTH_SETS)


def op_stream(workload: str, seed: int, manifest: dict, n: int) -> list[Op]:
    """The first ``n`` operations of a workload, fixed by the seed."""
    if workload == "analytic_scan":
        c = Chooser(seed, manifest, 2)
        return [_analytic(c, i % ANALYTIC_CYCLE, _auth(i, ANALYTIC_CYCLE))
                for i in range(n)]
    c = Chooser(seed, manifest, 1)
    return [_interactive(c, i % INTERACTIVE_CYCLE,
                         _auth(i, INTERACTIVE_CYCLE)) for i in range(n)]
