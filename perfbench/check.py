"""Output checks against the DuckDB oracle (``shaclapi_spark.oracle``).

Every check runs outside the timed windows and raises ``CheckFailed`` on a
mismatch. Verdict relations are compared by per-shape valid/invalid counts
plus an order-insensitive hash of ``(entity_id, shape, is_valid)``; both
sides are hashed by DuckDB, so the hash is computed the same way for the
Spark output and for the oracle.
"""

from __future__ import annotations

import duckdb

from shaclapi_spark import oracle
from shaclapi_spark.oracle import clips_table_expr as scan  # any parquet directory

DATASET = "__dataset__"


class CheckFailed(AssertionError):
    pass


class Oracle:
    def __init__(self, temp_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        self.con.execute("SET threads = 2")
        self.done: list[str] = []

    def close(self) -> None:
        self.con.close()

    def _sql(self, paths: dict[str, str], kind: str, include_audio: bool) -> str:
        c, t = scan(paths["clips"]), scan(paths["transcripts"])
        if kind == "cycle":
            return oracle.cycle_verdict_union_sql(c, t)
        tr = oracle.transcript_verdict_sql(c, t)
        if kind == "transcripts":
            return tr
        clip = oracle.clip_verdict_sql(c, t, include_audio)
        return f"SELECT * FROM ({clip}) UNION ALL SELECT * FROM ({tr})"

    def _digest(self, relation_sql: str) -> dict:
        rows = self.con.execute(
            f"""SELECT shape,
                       count(*) FILTER (WHERE is_valid) AS valid,
                       count(*) FILTER (WHERE NOT is_valid) AS invalid,
                       sum(hash(entity_id, shape, is_valid)::HUGEINT) AS h
                FROM ({relation_sql}) WHERE entity_id <> '{DATASET}' GROUP BY shape"""
        ).fetchall()
        return {r[0]: {"valid": r[1], "invalid": r[2], "hash": int(r[3])} for r in rows}

    def expected(self, paths: dict[str, str], kind: str, include_audio: bool) -> dict:
        """Oracle digest: ``kind`` is 'suite' (clip + transcript shapes),
        'transcripts' or 'cycle'."""
        return self._digest(self._sql(paths, kind, include_audio))

    def check_verdicts(self, name: str, out_dir: str, expected: dict) -> None:
        got = self._digest(f"SELECT * FROM {scan(out_dir)}")
        if got != expected:
            raise CheckFailed(f"{name}: verdicts {got} != oracle {expected}")
        self.done.append(name)

    def check_counts(self, name: str, counts: dict, expected: dict) -> None:
        want = {s: {"valid": d["valid"], "invalid": d["invalid"]} for s, d in expected.items()}
        if counts != want:
            raise CheckFailed(f"{name}: counts {counts} != oracle {want}")
        self.done.append(name)

    def check_violations(self, name: str, verdicts: str, violations: str) -> None:
        """The violations name exactly the invalid entities."""
        inv = (
            f"SELECT DISTINCT entity_id, shape FROM {scan(verdicts)} "
            f"WHERE NOT is_valid AND entity_id <> '{DATASET}'"
        )
        viol = (
            f"SELECT DISTINCT entity_id, shape FROM {scan(violations)} "
            f"WHERE entity_id <> '{DATASET}'"
        )
        bad = self.con.execute(
            f"""WITH i AS ({inv}), v AS ({viol})
                SELECT (SELECT count(*) FROM (SELECT * FROM i EXCEPT SELECT * FROM v))
                     + (SELECT count(*) FROM (SELECT * FROM v EXCEPT SELECT * FROM i))"""
        ).fetchone()[0]
        if bad:
            raise CheckFailed(f"{name}: {bad} entities differ between violations and invalid verdicts")
        self.done.append(name)

    def check_drift(self, name: str, verdicts: str) -> None:
        """FIXTURES.md shifts dur_ms in the last 10% of clips: dur_drift fires."""
        n = self.con.execute(
            f"""SELECT count(*) FROM {scan(verdicts)}
                WHERE entity_id = '{DATASET}' AND NOT is_valid AND reason = 'dur_drift'"""
        ).fetchone()[0]
        if n != 1:
            raise CheckFailed(f"{name}: expected one invalid dur_drift dataset verdict, got {n}")
        self.done.append(name)

    def corrupt_audio_rows(self, paths: dict[str, str]) -> int:
        """Clip rows the generator corrupts (index % 101 == 0)."""
        return self.con.execute(
            f"""SELECT count(*) FROM {scan(paths['clips'])}
                WHERE CAST(substr(clip_id, 6) AS BIGINT) % 101 = 0"""
        ).fetchone()[0]

    def changed_verdicts(self, old: str, new: str) -> int:
        """Entities whose verdict flipped, appeared or vanished."""
        return self.con.execute(
            f"""SELECT count(*) FROM (
                  SELECT entity_id, shape, is_valid FROM {scan(old)}
                  WHERE entity_id <> '{DATASET}'
                ) o FULL OUTER JOIN (
                  SELECT entity_id, shape, is_valid FROM {scan(new)}
                  WHERE entity_id <> '{DATASET}'
                ) n USING (entity_id, shape)
                WHERE o.is_valid IS DISTINCT FROM n.is_valid"""
        ).fetchone()[0]
