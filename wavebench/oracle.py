"""DuckDB oracle over the raw generated files.

The oracle never reads anything the program wrote: it reads the raw
feed files, applies each feed's marking from the manifest, and answers
each operation's SQL.  Answers are cached per distinct operation.
"""

from __future__ import annotations

import os
import tempfile

import duckdb

from wavebench import queries


class Oracle:
    def __init__(self, manifest: dict):
        # spill (if any) under the process temp dir, not the cwd
        self.con = duckdb.connect(config={"temp_directory": os.path.join(
            tempfile.gettempdir(), "duckdb")})
        parts = []
        for (datatype, label), d in sorted(manifest["base"].items()):
            body = "body" if datatype == "doc" else "CAST(NULL AS VARCHAR)"
            parts.append(
                f"SELECT uuid, ts, string_split(city, ';') AS city, country,"
                f" code, num, {body} AS body, '{datatype}' AS datatype,"
                f" '{label}' AS vis FROM read_parquet('{d}/*.parquet')")
        self.con.execute("CREATE TABLE ev AS " + " UNION ALL ".join(parts))
        self._memo: dict[queries.Op, tuple[int, str]] = {}

    def expect(self, op: queries.Op) -> tuple[int, str]:
        got = self._memo.get(op)
        if got is None:
            rows = self.con.execute(op.oracle_sql()).fetchall()
            got = self._memo[op] = queries.digest([r[0] for r in rows])
        return got

    def live_uuids(self, files: list[str]) -> tuple[int, str]:
        """Digest of every uuid in the landed live batch files."""
        if not files:
            return queries.digest([])
        rows = self.con.execute(
            "SELECT uuid FROM read_parquet(?)", [files]).fetchall()
        return queries.digest([r[0] for r in rows])

    def close(self) -> None:
        self.con.close()
