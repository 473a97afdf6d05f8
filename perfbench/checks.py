"""Correctness gate of the benchmark, run outside the timed region.

A committed document is correct when its ``(kind, text, media_ref,
order)`` span sequence, ``plain_text``, ``psv_text`` and ``status``
equal what ``functions.extract.extract_document`` gives for the
generated document. Every committed document is compared, through a
digest of those fields: the oracle holds one digest per fixture
document. A battery query is correct when its rows match its DuckDB
oracle under ``tools/check_oracles.compare``.
"""

import hashlib
from dataclasses import dataclass, field


def doc_record(d) -> tuple:
    """The compared fields of one extracted document (a dict from
    ``extract_document`` or a committed row's ``asDict``)."""
    spans = tuple((s["kind"], s["text"], s["media_ref"], s["order"])
                  for s in d["spans"])
    return spans, d["plain_text"], d["psv_text"], d["status"]


def record_digest(record: tuple) -> str:
    return hashlib.blake2b(repr(record).encode(), digest_size=16).hexdigest()


def check_docs(committed: dict, oracle: dict, doc_ids) -> list:
    """Those of ``doc_ids`` whose committed digest differs from the
    oracle's or is missing from either."""
    return [d for d in doc_ids
            if d not in oracle or committed.get(d) != oracle[d]]


@dataclass
class Gate:
    """Running ``attempted`` / ``failed`` tally with the first few causes."""

    attempted: int = 0
    failed: int = 0
    causes: list = field(default_factory=list)

    def record(self, what: str, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.causes) < 10:
                self.causes.append(f"{what}: {why}")

    def docs(self, what: str, committed: dict, oracle: dict,
             doc_ids) -> None:
        bad = set(check_docs(committed, oracle, doc_ids))
        for doc_id in doc_ids:
            self.record(f"{what} doc {doc_id}", doc_id not in bad,
                        "differs from extract_document")


def committed_digests(snapshot_df) -> dict:
    """doc_id -> ``record_digest`` of every committed row."""
    rows = (snapshot_df
            .select("doc_id", "spans", "plain_text", "psv_text", "status")
            .collect())
    return {r["doc_id"]: record_digest(doc_record(r.asDict(recursive=True)))
            for r in rows}


class CollectedResult:
    """A query result already collected on the driver, shaped like the
    DataFrame ``check_oracles.compare`` expects."""

    def __init__(self, df):
        self.columns = df.columns
        self.schema = df.schema
        self._rows = df.collect()

    def collect(self):
        return self._rows


class Oracles:
    """DuckDB views over one battery table directory."""

    TABLES = ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split()

    def __init__(self, table_dir, temp_dir):
        import duckdb

        self.con = duckdb.connect()
        # bounded: the machine is shared
        self.con.execute("SET threads=2")
        self.con.execute("SET memory_limit='1GB'")
        self.con.execute(f"SET temp_directory='{temp_dir}'")
        self.con.execute("SET max_temp_directory_size='1GB'")
        for t in self.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{table_dir}/{t}.parquet')")

    def check(self, name: str, sql: str, result: CollectedResult):
        """None when ``result`` matches the oracle, else the mismatch."""
        from tools.check_oracles import compare

        rel = self.con.sql(sql)
        return compare(name, result, rel.fetchall(), list(rel.columns),
                       list(rel.types))
