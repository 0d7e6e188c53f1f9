"""DuckDB oracle: the expected last-writer-wins state of a generated WAL.

The oracle reads the same parquet WAL the engine replays and resolves it
independently of Spark: per key ``(repo, path)`` the event with the highest
``(seq, commit)`` wins, and a winning ``delete`` leaves the key absent.
Rows are compared by ``sha256(content)``, so a wrong winner, a lost update
or a resurrected delete all show as a mismatch.
"""

from __future__ import annotations

import duckdb


class Oracle:
    def __init__(self, wal_glob: str, json_payload: bool):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        content = (
            "json_extract_string(payload, '$.content')" if json_payload else "payload.content"
        )
        self.con.execute(
            "CREATE VIEW wal AS SELECT seq, repo, path, \"commit\", op, "
            f"{content} AS content FROM read_parquet('{wal_glob}')"
        )
        self._states: dict[int, str] = {}

    def close(self) -> None:
        self.con.close()

    def state(self, cut: int) -> str:
        """Name of a table holding each key's winner among ``seq <= cut``
        (tombstones included, ``live`` marks the rest)."""
        if cut not in self._states:
            name = f"state_{len(self._states)}"
            self.con.execute(
                f"CREATE TEMP TABLE {name} AS SELECT repo, path, seq, "
                "op IS DISTINCT FROM 'delete' AS live, sha256(content) AS h FROM ("
                "SELECT *, row_number() OVER (PARTITION BY repo, path "
                "ORDER BY seq DESC, \"commit\" DESC) AS rn "
                f"FROM wal WHERE seq <= {int(cut)}) WHERE rn = 1"
            )
            self._states[cut] = name
        return self._states[cut]

    def live_keys(self, cut: int) -> int:
        return int(self.con.execute(
            f"SELECT count(*) FROM {self.state(cut)} WHERE live").fetchone()[0])

    def rows(self, cut: int) -> dict:
        """{(repo, path): (seq, live, h)} of every key seen up to ``cut``."""
        out = self.con.execute(
            f"SELECT repo, path, seq, live, h FROM {self.state(cut)}").fetchall()
        return {(r, p): (s, lv, h) for r, p, s, lv, h in out}

    def match_rate(self, actual, cut: int) -> float:
        """Share of keys whose live row matches the oracle, over the union of
        expected and actual live keys. ``actual`` is a pandas frame of repo,
        path, h (one row per live key; a duplicated key counts as a
        mismatch)."""
        st = self.state(cut)
        self.con.register("actual_df", actual)
        try:
            union, matched = self.con.execute(
                "WITH a AS (SELECT repo, path, any_value(h) AS h, count(*) AS n "
                "FROM actual_df GROUP BY repo, path), "
                f"e AS (SELECT repo, path, h FROM {st} WHERE live) "
                "SELECT count(*), count(*) FILTER (WHERE a.n = 1 AND a.h = e.h) "
                "FROM a FULL OUTER JOIN e USING (repo, path)"
            ).fetchone()
        finally:
            self.con.unregister("actual_df")
        return matched / union if union else 1.0

    def since(self, cut: int, min_seq: int) -> set:
        """Live (repo, path, seq) whose current version has seq >= min_seq."""
        out = self.con.execute(
            f"SELECT repo, path, seq FROM {self.state(cut)} "
            f"WHERE live AND seq >= {int(min_seq)}").fetchall()
        return set(out)

    def diff(self, cut_from: int, cut_to: int) -> set:
        """(repo, path, change) for every key whose live state differs
        between the two cuts."""
        a, b = self.state(cut_from), self.state(cut_to)
        out = self.con.execute(
            "SELECT repo, path, CASE "
            "WHEN NOT coalesce(x.live, false) THEN 'insert' "
            "WHEN NOT coalesce(y.live, false) THEN 'delete' ELSE 'update' END "
            f"FROM (SELECT * FROM {a} WHERE live) x "
            f"FULL OUTER JOIN (SELECT * FROM {b} WHERE live) y USING (repo, path) "
            "WHERE x.seq IS DISTINCT FROM y.seq").fetchall()
        return set(out)
