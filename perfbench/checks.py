"""Output checks: the order-insensitive value hash, the pinned lane
results, and the DuckDB re-run of the ETL star join."""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os

HERE = os.path.dirname(os.path.abspath(__file__))


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows) -> str:
    """md5 over the sorted rows, columns taken in name order: equal for
    equal multisets of rows whatever their order. The same law as the
    engine's correctness tool, so oracle hashes compare directly."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def expected_lanes(sf: float) -> dict[str, dict]:
    """Pinned ``{"rows", "hash"}`` of each corpus lane at scale ``sf``."""
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)["lanes"][repr(sf)]


# USERS and ORDERS as run_pipeline builds them, over the CSV/JSON inputs
_ORACLE = """
CREATE VIEW orders AS SELECT * FROM read_csv('{d}/orders_csv/*.csv', header = true,
    columns = {{'Fecha': 'VARCHAR', 'Product_ID': 'BIGINT', 'User_ID': 'BIGINT'}});
CREATE VIEW products AS SELECT * FROM read_csv('{d}/products_csv/*.csv', header = true,
    columns = {{'Id': 'BIGINT', 'Name': 'VARCHAR', 'Category': 'VARCHAR', 'Price': 'BIGINT'}});
CREATE VIEW users AS SELECT * FROM read_csv('{d}/users_csv/*.csv', header = true,
    columns = {{'Id': 'BIGINT', 'Document': 'BIGINT'}});
CREATE VIEW info AS SELECT unnest(data, recursive := true) FROM read_json('{d}/user_info.json',
    columns = {{'status': 'INTEGER', 'data': 'STRUCT(document BIGINT, name VARCHAR,
    birthday VARCHAR, gender VARCHAR, email VARCHAR, phone VARCHAR)[]'}});
CREATE VIEW expect_USERS AS
    SELECT u.Document AS Document, u.Id AS Id, i.name AS Name,
           split_part(i.birthday, 'T', 1) AS BirthDay,
           CASE i.gender WHEN 'Male' THEN 'M' WHEN 'f' THEN 'F' ELSE i.gender END AS Gender,
           i.email AS Email, i.phone AS Phone
    FROM users u JOIN info i ON u.Document = i.document;
CREATE VIEW expect_ORDERS AS
    SELECT o.Fecha AS ORDER_DATE, o.User_ID AS USER_ID, o.Product_ID AS PRODUCT_ID,
           p.Name AS PRODUCT_NAME, p.Category AS CATEGORY, p.Price AS PRICE
    FROM orders o JOIN products p ON o.Product_ID = p.Id JOIN users u ON o.User_ID = u.Id;
"""

_COLUMNS = {
    "USERS": ("BirthDay", "Document", "Email", "Gender", "Id", "Name", "Phone"),
    "ORDERS": ("CATEGORY", "ORDER_DATE", "PRICE", "PRODUCT_ID", "PRODUCT_NAME", "USER_ID"),
}


class EtlOracle:
    """Expected row counts and multiset hashes of the loaded tables."""

    def __init__(self, inputs: str, wrong: bool = False) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute(_ORACLE.format(d=inputs))
        self.expected = {t: self._digest(f"expect_{t}", t) for t in _COLUMNS}
        if wrong:
            rows, h = self.expected["ORDERS"]
            self.expected["ORDERS"] = (rows, h + 1)
        self.counts = {t: rows for t, (rows, _) in self.expected.items()}

    def _digest(self, relation: str, table: str) -> tuple[int, int]:
        """(rows, sum of per-row hashes): order-insensitive and equal
        for equal multisets of rows."""
        row = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '\\N')" for c in _COLUMNS[table])
        n, h = self.con.execute(
            f"SELECT count(*), coalesce(sum(hash(concat_ws(chr(31), {row}))), 0)::HUGEINT "
            f"FROM {relation}"
        ).fetchone()
        return int(n), int(h)

    def compare(self, out_dir: str) -> list[str]:
        """Problems found in the tables a pipeline run wrote to ``out_dir``."""
        problems = []
        for table, want in self.expected.items():
            files = glob.glob(os.path.join(out_dir, table, "*.parquet"))
            if not files:
                problems.append(f"{table}: no parquet files")
                continue
            self.con.execute(
                f"CREATE OR REPLACE VIEW got AS SELECT * FROM read_parquet({files!r})"
            )
            got = self._digest("got", table)
            if got != want:
                problems.append(f"{table}: (rows, hash) {got} != expected {want}")
        return problems
