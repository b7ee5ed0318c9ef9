"""Deterministic JSON/CSV derivations of the parquet fixtures.

The fixture set is parquet-only; the scan_json / scan_csv operators
need JSON-lines and CSV inputs. We derive them 1:1 from the driver's
own parquet (no synthetic data) with DuckDB COPY — deterministic
(ORDER BY key) and built once per source fingerprint (io.derived).
Timestamps are exported as epoch microseconds (BIGINT) so both engines
re-materialize the exact same µs timestamp without string-format
parsing hazards.

Files land under ``RUNTIME_DIR``/derived/<sfname>/ (gitignored);
ORACLE SQL references the sf0.01 paths, which are generated eagerly at
import time so the driver can run the oracle before or after the Spark
query.
"""

from __future__ import annotations

import os

import duckdb

from ..io import derived, duck_parquet_src, source_fingerprint
from ..streaming.core import RUNTIME_DIR

DERIVED_DIR = f"{RUNTIME_DIR}/derived"

_EVENTS_SELECT = (
    "SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props "
    "FROM read_parquet('{events_src}') ORDER BY event_id"
)
_CUSTOMER_SELECT = (
    "SELECT * FROM read_parquet('{customer_src}') ORDER BY c_custkey"
)

EVENTS_JSON_COLUMNS = (
    "{'event_id': 'BIGINT', 'ts_us': 'BIGINT', 'user_id': 'BIGINT', "
    "'event_type': 'VARCHAR', 'value': 'DOUBLE', 'props': 'VARCHAR'}"
)
CUSTOMER_CSV_COLUMNS = (
    "{'c_custkey': 'BIGINT', 'c_name': 'VARCHAR', 'c_nationkey': 'INTEGER', "
    "'c_acctbal': 'DOUBLE', 'c_mktsegment': 'VARCHAR'}"
)

EVENTS_JSON_SPARK_SCHEMA = (
    "event_id LONG, ts_us LONG, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)
CUSTOMER_CSV_SPARK_SCHEMA = (
    "c_custkey LONG, c_name STRING, c_nationkey INT, "
    "c_acctbal DOUBLE, c_mktsegment STRING"
)


# Blob derivation cap: one file per document is the binaryFile model;
# 200 files keeps listing/scheduling costs flat at every SF.
BLOB_DOCS = 200


def ensure_derived(sf_dir: str) -> str:
    """Create JSONL/CSV/TSV/binary-blob twins of the fixtures for one
    scale factor."""
    # "v5": the twins' format version; a format change bumps it so
    # existing twins rebuild
    fingerprint = "v5;" + source_fingerprint(
        f"{sf_dir}/events.parquet",
        f"{sf_dir}/customer.parquet",
        f"{sf_dir}/documents.parquet",
    )
    sfname = os.path.basename(sf_dir.rstrip("/"))
    return derived(
        f"{DERIVED_DIR}/{sfname}", fingerprint, lambda out: _write_twins(sf_dir, out)
    )


def _write_twins(sf_dir: str, out: str) -> None:
    con = duckdb.connect()
    con.execute(
        f"COPY ({_EVENTS_SELECT.format(events_src=duck_parquet_src(f'{sf_dir}/events.parquet'))}) "
        f"TO '{out}/events.jsonl' (FORMAT JSON)"
    )
    con.execute(
        f"COPY ({_CUSTOMER_SELECT.format(customer_src=duck_parquet_src(f'{sf_dir}/customer.parquet'))}) "
        f"TO '{out}/customer.csv' (FORMAT CSV, HEADER)"
    )
    # documents as raw TAB-separated lines for spark.read.text, written
    # directly so no CSV quoting can alter the bytes. The format is only
    # lossless while text contains no tab / LF / CR (spark.read.text
    # also splits on bare \r), so fail loudly if a regenerated fixture
    # ever violates that instead of silently corrupting scan_text.
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{duck_parquet_src(f'{sf_dir}/documents.parquet')}') "
        "ORDER BY doc_id"
    ).fetchall()
    with open(f"{out}/documents.tsv", "w", encoding="utf-8") as f:
        for doc_id, text in docs:
            if text is None:
                raise ValueError(
                    f"documents fixture drift: doc_id={doc_id} has NULL "
                    "text — the TSV/blob derivations are byte-lossless "
                    "round-trips and cannot represent NULL (scan_text's "
                    "oracle proves losslessness against the parquet); "
                    "NULL-text corpora are the text-analytics operators' "
                    "domain (they treat NULL as the empty document), not "
                    "the raw-ingest twins'"
                )
            if "\t" in text or "\n" in text or "\r" in text:
                raise ValueError(
                    f"documents fixture drift: doc_id={doc_id} contains a "
                    "tab/newline/CR — the TSV derivation for scan_text "
                    "cannot represent it losslessly; teach derived.py an "
                    "escaping scheme before regenerating"
                )
            f.write(f"{doc_id}\t{text}\n")
    # first BLOB_DOCS documents as one opaque binary file each (the
    # binaryFile/multimodal object-store model): content = utf-8 text
    blob_dir = f"{out}/docblobs"
    os.makedirs(blob_dir, exist_ok=True)
    for doc_id, text in docs[:BLOB_DOCS]:
        with open(f"{blob_dir}/doc_{doc_id:06d}.txt", "wb") as f:
            f.write(text.encode("utf-8"))
    # schema-evolution twin: the same events table as TWO parquet
    # files written by different "writer generations" — v1 lacks the
    # event_type column (added later), v2 has it. Split by event_id
    # parity so both files are non-trivial; deterministic ORDER BY.
    evolve_dir = f"{out}/events_evolve"
    os.makedirs(evolve_dir, exist_ok=True)
    con.execute(
        f"COPY (SELECT event_id, user_id, value "
        f"FROM read_parquet('{duck_parquet_src(f'{sf_dir}/events.parquet')}') "
        f"WHERE event_id % 2 = 0 ORDER BY event_id) "
        f"TO '{evolve_dir}/v1.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"COPY (SELECT event_id, user_id, value, event_type "
        f"FROM read_parquet('{duck_parquet_src(f'{sf_dir}/events.parquet')}') "
        f"WHERE event_id % 2 = 1 ORDER BY event_id) "
        f"TO '{evolve_dir}/v2.parquet' (FORMAT PARQUET)"
    )
    con.close()
    # malformed-ingest twin for scan_json_corrupt: same events.jsonl,
    # but every line whose event_id % 13 == 0 is truncated to its
    # first 30 bytes (invalid JSON — cut mid-record, no closing
    # brace). Corruption keys off the PARSED id, so the oracle can
    # reproduce the exact good/corrupt split from the parquet table.
    with open(f"{out}/events.jsonl", encoding="utf-8") as fin, open(
        f"{out}/events_corrupt.jsonl", "w", encoding="utf-8"
    ) as fout:
        import json as _json

        for line in fin:
            if _json.loads(line)["event_id"] % 13 == 0:
                fout.write(line[:30] + "\n")
            else:
                fout.write(line)
    # malformed-ingest twin for scan_csv_corrupt: same customer.csv,
    # but every row whose c_custkey % 13 == 0 gets its key field
    # prefixed with 'x' — the BIGINT column fails to parse, which is
    # what actually trips Spark's CSV PERMISSIVE quarantine (a short
    # row would just null-fill; a type failure marks _corrupt_record).
    # Corruption keys off the PARSED key, so the oracle reproduces
    # the exact good/corrupt split from the parquet table.
    with open(f"{out}/customer.csv", encoding="utf-8") as fin, open(
        f"{out}/customer_corrupt.csv", "w", encoding="utf-8"
    ) as fout:
        header = next(fin)
        fout.write(header)
        for line in fin:
            key = int(line.split(",", 1)[0])
            fout.write(f"x{line}" if key % 13 == 0 else line)


def derived_path(sf_dir: str, fname: str) -> str:
    return f"{ensure_derived(sf_dir)}/{fname}"


# The oracle runs at sf0.01 with fixed SQL strings — make sure those
# files exist regardless of driver call ordering.
ORACLE_SF_DIR = "/root/testdata/sf0.01"
ensure_derived(ORACLE_SF_DIR)
ORACLE_EVENTS_JSONL = f"{DERIVED_DIR}/sf0.01/events.jsonl"
ORACLE_CUSTOMER_CSV = f"{DERIVED_DIR}/sf0.01/customer.csv"
ORACLE_EVENTS_EVOLVE = f"{DERIVED_DIR}/sf0.01/events_evolve"
ORACLE_EVENTS_CORRUPT_JSONL = f"{DERIVED_DIR}/sf0.01/events_corrupt.jsonl"

