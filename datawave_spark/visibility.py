"""ColumnVisibility label model.

Reference: every Accumulo key carries a ColumnVisibility boolean
expression (``A&B|(C&D)``); query-side, results are filtered by the
user's authorizations and labels are translated to response "markings"
(Document.java:72-78; masked-field variant
ShardedDataTypeHandler.createMaskedShardEventColumn:969).

Spark restatement: a ``visibility`` string column + this evaluator.
The label VOCABULARY is tiny (config-driven at ingest) even when the
data is 100 TB, so the scalable filter is: find the distinct labels
(bounded), evaluate each against the user's auths driver-side, and
push an ``isin(allowed)`` predicate — which Catalyst turns into a
parquet-pushed filter — rather than evaluating boolean expressions
per row.

The vocabulary itself is memoized per parquet file, the way Accumulo's
``VisibilityFilter`` caches its verdict per label: a file's labels
never change while its (path, length, modification time) do not, so
each file is probed once, and a query over an unchanged store runs no
Spark job at all to find its vocabulary.  A store that grows by one
file per live batch costs one small probe per new file.  The memo is
used only for a frame whose visibility column is a plain data column of
parquet file scans (see ``filter_by_auths``); every other frame is
probed whole, as before.

This reproduces the security *model* (which rows a user sees); it is
not a security *boundary* — Spark has no tserver-side enforcement.
"""

from __future__ import annotations

import json
import re
import threading
from collections.abc import Iterable
from urllib.parse import unquote

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StringType, StructField, StructType


class VisibilityParseError(ValueError):
    pass


# unquoted label charset per Accumulo's ColumnVisibility (alphanumeric
# plus _ - : . /); anything else must be quoted, where \" and \\
# escape (visibility-referee r8: '/' was missing, so a stored
# 'org/team' label failed to parse and fail-closed DROPPED the row
# where Accumulo evaluates it)
_TOK = re.compile(
    r"\s*(?:(?P<op>[&|()])|(?P<label>[A-Za-z0-9_.:/-]+|\"(?:\\.|[^\"\\])*\"))")


def _tokens(expr: str):
    pos = 0
    while pos < len(expr):
        m = _TOK.match(expr, pos)
        if not m:
            raise VisibilityParseError(f"bad visibility at {pos}: {expr!r}")
        pos = m.end()
        yield m.group("op") or m.group("label")
    yield None


def evaluate(expr: str | None, auths: set[str]) -> bool:
    """Evaluate a ColumnVisibility expression against an auth set.

    Accumulo's parser REJECTS mixed ``&`` and ``|`` at the same
    parenthesis level (there is no precedence to invent): a label like
    ``A&B|C`` is a parse error, because silently choosing ``(A&B)|C``
    would grant visibility to users holding only C — broader than the
    label author intended.  Parentheses group; empty/None visibility is
    visible to everyone."""
    if expr is None or expr.strip() == "":
        return True
    toks = list(_tokens(expr))
    pos = 0

    def peek():
        return toks[pos]

    def take():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def parse_expr() -> bool:
        v = parse_atom()
        op = None
        while peek() in ("&", "|"):
            t = take()
            if op is None:
                op = t
            elif t != op:
                raise VisibilityParseError(
                    f"mixed '&' and '|' without parentheses in {expr!r}")
            nxt = parse_atom()
            v = (v and nxt) if op == "&" else (v or nxt)
        return v

    def parse_atom() -> bool:
        t = take()
        if t == "(":
            v = parse_expr()
            if take() != ")":
                raise VisibilityParseError(f"unbalanced parens in {expr!r}")
            return v
        if t in ("&", "|", ")", None):
            raise VisibilityParseError(f"unexpected {t!r} in {expr!r}")
        if t.startswith('"'):
            # unescape \" and \\ inside the quoted term (Accumulo's
            # quoted-term escape rules)
            label = re.sub(r'\\(["\\])', r"\1", t[1:-1])
        else:
            label = t
        return label in auths

    result = parse_expr()
    if peek() is not None:
        raise VisibilityParseError(f"trailing tokens in {expr!r}")
    return result


def _evaluate_fail_closed(expr: str, auths: set[str]) -> bool:
    """A stored label that does not parse (e.g. mixed &/| written
    without parens) grants NOTHING — fail closed, mirroring Accumulo
    where such a label could never have been ingested."""
    try:
        return evaluate(expr, auths)
    except VisibilityParseError:
        return False


#: Largest distinct-visibility vocabulary the driver will pull.  Label
#: vocabularies are config-bounded in a sane deployment (combinations
#: of a few dozen auth labels), so the fast path almost always wins;
#: the cap exists so a hostile/corrupt corpus with a data-sized
#: visibility column cannot OOM the driver.
VIS_DISTINCT_CAP = 10_000


#: Label vocabulary memo: (file-index root paths, column) -> {(file
#: path, length, modification time): frozenset of that file's labels}.
#: An entry keeps only the files of its index's latest listing, so a
#: compacting store does not grow driver memory without bound.
_VOCAB_MEMO: dict[tuple, dict[tuple[str, int, int], frozenset]] = {}
_VOCAB_LOCK = threading.Lock()

# one Hadoop FileStatus.toString() (path, length, modification time)
_FILE_STATUS = re.compile(r"\{path=(.*); isDirectory=false; length=(\d+);"
                          r".*; modification_time=(\d+);")
_URI = re.compile(r"(?:([A-Za-z][A-Za-z0-9+.-]*):)?(?://([^/]*))?(.*)",
                  re.DOTALL)
# characters spark.read would expand as a Hadoop glob
_GLOB = re.compile(r"[{}\[\]*?\\]")


def _file_key(uri: str, encoded: bool) -> tuple[str, str, str]:
    """(scheme, authority, path) of a file URI.  ``input_file_name()``
    gives a URL-encoded ``file:///...`` where a ``FileStatus`` path
    reads ``file:/...`` unencoded; both forms map to one key."""
    scheme, host, path = _URI.fullmatch(uri).groups()
    return ((scheme or "file").lower(), host or "",
            unquote(path) if encoded else path)


def _listing(files) -> list[tuple[str, int, int]] | None:
    """(path, length, mtime) of each FileStatus in a JVM Vector, or None
    if one does not parse.  The statuses come over in chunks of about
    6 KB of text: a py4j reply of 8.2 KB took 44 ms where one of 7.8 KB
    took 1 ms (loopback, 4-core host), more than the rest of a memo hit."""
    n = files.size()
    if n == 0:
        return []
    step = max(1, 6000 // (len(files.head().toString()) + 1))
    out = []
    for a in range(0, n, step):
        for line in files.slice(a, a + step).mkString("\n").split("\n"):
            m = _FILE_STATUS.search(line)
            if m is None:
                return None
            out.append((m[1], int(m[2]), int(m[3])))
    return out


def _file_scans(df: DataFrame, vis_col: str) -> list | None:
    """The parquet scans ``vis_col`` of ``df`` is read from, as
    ``((root paths, column), [(path, length, mtime), ...])`` per scan,
    or None for any other lineage.  Walks the already-analyzed plan (no
    optimizer pass): the column may pass only through attribute-only
    Project, Filter and Union down to a data (not partition) string
    column of a parquet ``HadoopFsRelation``."""
    names = df.columns
    if names.count(vis_col) != 1:
        return None
    scans = []

    def walk(node, i: int) -> bool:
        kind = node.nodeName()
        if kind == "Filter":
            return walk(node.child(), i)
        if kind == "Project":
            # only a bare attribute equals one of the child's outputs
            child = node.child()
            j = child.output().indexOf(node.projectList().apply(i))
            return j >= 0 and walk(child, j)
        if kind == "Union":
            kids = node.children()
            return all(walk(kids.apply(k), i) for k in range(kids.size()))
        if kind != "LogicalRelation":
            return False
        rel = node.relation()
        if (rel.getClass().getSimpleName() != "HadoopFsRelation"
                or rel.fileFormat().getClass().getSimpleName()
                != "ParquetFileFormat"):
            return False
        attr = node.output().apply(i)
        col = attr.name()
        parts = json.loads(rel.partitionSchema().json())["fields"]
        if (attr.dataType().typeName() != "string"
                or col.lower() in {f["name"].lower() for f in parts}):
            return False
        loc = rel.location()
        listing = _listing(loc.allFiles().toVector())
        if listing is None:
            return False
        roots = tuple(sorted(loc.rootPaths().mkString("\n").split("\n")))
        scans.append(((roots, col), listing))
        return True

    return scans if walk(df._jdf.queryExecution().analyzed(),
                         names.index(vis_col)) else None


def _probe_files(spark, col: str, files: list, cap: int) -> dict | None:
    """``{file: frozenset(labels)}`` for ``files`` from one distinct job
    over just those files; None when a file's vocabulary exceeds ``cap``
    or an output file cannot be matched back to its listing."""
    if any(_GLOB.search(f[0]) for f in files):
        return None
    by_key = {_file_key(f[0], encoded=False): f for f in files}
    rows = (spark.read.schema(StructType([StructField(col, StringType())]))
            .parquet(*(f[0] for f in files)).toDF("label")
            .where(F.col("label") != "")
            .groupBy(F.input_file_name().alias("file"))
            .agg(F.slice(F.collect_set("label"), 1, cap + 1).alias("labels"))
            .collect())
    out = dict.fromkeys(files, frozenset())
    for r in rows:
        f = by_key.get(_file_key(r.file, encoded=True))
        if f is None or len(r.labels) > cap:
            return None
        out[f] = frozenset(r.labels)
    return out


def _memo_vocabulary(df: DataFrame, vis_col: str, cap: int) -> set | None:
    """The non-empty labels of every file ``df`` scans, probing only
    the files not yet memoized; None when the memo cannot answer."""
    try:
        scans = _file_scans(df, vis_col)
        if scans is None:
            return None
        labels: set[str] = set()
        for key, listing in scans:
            with _VOCAB_LOCK:
                known = _VOCAB_MEMO.get(key, {})
                kept = {f: known[f] for f in listing if f in known}
                _VOCAB_MEMO[key] = dict(kept)
            new = [f for f in listing if f not in kept]
            if new:
                probed = _probe_files(df.sparkSession, key[1], new, cap)
                if probed is None:
                    return None
                with _VOCAB_LOCK:
                    _VOCAB_MEMO.setdefault(key, {}).update(probed)
                kept.update(probed)
            for vocab in kept.values():
                labels |= vocab
        return labels
    except (Py4JError, PySparkException):
        return None


def _visible_predicate(vis_col: str, allowed: list[str]) -> Column:
    """``isnull | == '' | isin(allowed)`` on ``vis_col``.  Parsed from
    SQL text when no label needs escaping: building the same expression
    from Column operators measured about 15 ms, more than the memo hit
    it follows."""
    if any("'" in v or "\\" in v for v in allowed):
        pred = F.col(vis_col).isNull() | (F.col(vis_col) == "")
        if allowed:
            pred = pred | F.col(vis_col).isin(allowed)
        return pred
    c = "`" + vis_col.replace("`", "``") + "`"
    sql = f"{c} IS NULL OR {c} = ''"
    if allowed:
        sql += f" OR {c} IN (" + ", ".join(f"'{v}'" for v in allowed) + ")"
    return F.expr(sql)


def filter_by_auths(df: DataFrame, auths: Iterable[str],
                    vis_col: str = "visibility",
                    distinct_cap: int = VIS_DISTINCT_CAP) -> DataFrame:
    """Row-filter a frame by user authorizations.

    Fast path: the distinct labels are found, each is evaluated
    driver-side, and the verdict is pushed down as
    ``isnull | == '' | isin(allowed)`` — pure JVM, parquet-pushable.

    The labels come from a per-file memo (Accumulo's ``VisibilityFilter``
    caches its verdict per label for the same reason: the vocabulary is
    tiny and every key repeats it) when ``vis_col`` is a plain data
    column of parquet file scans, reached only through attribute-only
    Project, Filter and Union.  The frame's file listing is read from
    its analyzed plan; only files not yet memoized under their (path,
    length, modification time) are probed, in one job, so a call over
    an unchanged store runs no Spark job.  Any other frame (a derived
    or partition-column ``vis_col``, a join, an in-memory frame) is
    probed whole: at most ``distinct_cap + 1`` labels leave the
    cluster.

    If the vocabulary exceeds the cap, the filter degrades to an
    Arrow-batched pandas UDF that evaluates each batch's (few) distinct
    expressions with memoization — still correct on an unbounded
    column, never a driver-sized collect and never fail-closed-drop-
    everything."""
    auth_set = set(auths)
    if vis_col not in df.columns:
        return df
    labels = _memo_vocabulary(df, vis_col, distinct_cap)
    if labels is None:
        labels = [r[0] for r in
                  df.select(vis_col).distinct().limit(distinct_cap + 1)
                  .collect()]
    if len(labels) <= distinct_cap:
        return df.filter(_visible_predicate(vis_col, sorted(
            v for v in labels
            if v is not None and _evaluate_fail_closed(v, auth_set))))

    import pandas  # noqa: F401 — resolves the UDF's type hints
    from pyspark.sql.functions import pandas_udf

    def _visible(vs: "pandas.Series") -> "pandas.Series":
        memo: dict[str, bool] = {}

        def ev(v):
            if v is None or v == "":
                return True
            got = memo.get(v)
            if got is None:
                got = memo[v] = _evaluate_fail_closed(v, auth_set)
            return got

        return vs.map(ev)

    _visible.__annotations__ = {"vs": pandas.Series,
                                "return": pandas.Series}
    visible = pandas_udf(_visible, "boolean")
    return df.filter(visible(F.col(vis_col)))


def mask_fields(df: DataFrame, field_visibility: dict[str, str],
                auths: Iterable[str], mask_value: str = "***") -> DataFrame:
    """Field-level masking (createMaskedShardEventColumn parity): a
    field whose declared visibility the user lacks is replaced by the
    mask value instead of dropping the row."""
    auth_set = set(auths)
    out = df
    for fname, vis in field_visibility.items():
        if fname in out.columns and not _evaluate_fail_closed(vis, auth_set):
            out = out.withColumn(fname, F.lit(mask_value))
    return out


def combined_visibility(vis_col: str = "visibility") -> Column:
    """Aggregation expression for the marking of an AGGREGATED row —
    GroupingUtils.combineVisibilities (query/common/grouping/
    GroupingUtils.java:45) / MarkingFunctions.combine parity: a group's
    visibility is the CONJUNCTION of its members' distinct labels, so
    a user may see the aggregate only if they could see every
    contributing row.  Members are deduped and sorted (stable across
    partitionings); a member containing a disjunction is parenthesized
    before joining with ``&`` (Accumulo's ColumnVisibility quoting
    rule).  Use inside ``groupBy().agg(...)``."""
    distinct = F.array_sort(F.collect_set(F.col(vis_col)))
    wrapped = F.transform(
        distinct,
        lambda v: F.when(v.contains("|"),
                         F.concat(F.lit("("), v, F.lit(")"))).otherwise(v))
    return F.concat_ws("&", wrapped)
