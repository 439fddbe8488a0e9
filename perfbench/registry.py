"""`registry_mix` workload: analyst queries and engine operators.

Each op calls one `__spark_entry__.queries()` entry and forces its whole
output with toPandas() (no pruned count()). Every output is compared
with the query's DuckDB `oracle_sql()` result under the order-insensitive,
bit-exact rule of `tests/conftest.assert_frames_match`. Oracle results
are computed once per (query, table draw, oracle SQL) and cached in the
checkout, so a costly oracle is not re-run for a table draw it has seen.

The seed picks one of four table draws, generated once per checkout;
the op order is fixed, because ops share first-use costs (code paths,
Python workers) that would otherwise move between them from run to run.
"""

from __future__ import annotations

import hashlib
import os
import time

import pandas as pd

import datagen

# (query, scale factor). Single-plan analyst queries exercise the read
# path: planning, AQE and codegen over parquet scans, a few jobs each and
# no Python workers. The operators are serial multi-job index and view
# verbs, pandas-UDF kernels and a streaming drain, covering every engine
# layer; they are job-bound, so they run on the smallest table set.
OPS = [
    ("freshness_status", 0.1),
    ("market_share", 0.1),
    ("streaming_dedup", 0.001),     # streaming
    ("ivfpq_index_delete", 0.001),  # pq, plus similarity and clustering
    ("ivm_dim_delete", 0.001),      # ivm
    ("quality_classifier", 0.001),  # classifier
    ("bpe_encode", 0.001),          # bpe
    ("media_decode_png", 0.001),    # multimodal
]
TINY_SF = 0.001
DRAWS = 4


def _oracle_key(name: str, sql: str, sf: float, draw: int) -> str:
    with open(datagen.__file__, "rb") as fh:
        gen = fh.read()
    h = hashlib.sha256(gen + f"|{sf:g}|{draw}|{name}|".encode() + sql.encode())
    return f"{name}-{h.hexdigest()[:16]}"


def expected_results(names: list[str], sf_dir: str, sf: float, draw: int,
                     cache: str) -> dict:
    """Oracle outputs, computed with DuckDB on a miss and cached."""
    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    os.makedirs(cache, exist_ok=True)
    out, con = {}, None
    for name in names:
        path = os.path.join(cache, _oracle_key(name, sql[name], sf, draw) + ".pkl")
        if not os.path.exists(path):
            if con is None:
                import duckdb

                con = duckdb.connect(config={"threads": 4, "memory_limit": "2GB"})
                for t in datagen.TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{os.path.join(sf_dir, t)}.parquet'")
            tmp = path + f".{os.getpid()}.tmp"
            con.execute(sql[name]).df().to_pickle(tmp)
            os.replace(tmp, path)
        out[name] = pd.read_pickle(path)
    if con is not None:
        con.close()
    return out


class Registry:
    name = "registry_mix"
    op_layer = "registry"  # each op is one span of the registry layer

    def __init__(self, spark, seed: int, size: str, cache: str, corrupt: bool = False):
        import __spark_entry__ as entry

        self.spark, self.corrupt = spark, corrupt
        self.ops = [(q, sf if size == "full" else TINY_SF) for q, sf in OPS]
        self.queries = entry.queries()
        t0 = time.perf_counter()
        draw = 1 + seed % DRAWS
        self.dirs = {sf: datagen.ensure_tables(os.path.join(cache, "data"), sf, draw)
                     for sf in {sf for _, sf in self.ops}}
        self.expected = {}
        for sf, sf_dir in self.dirs.items():
            self.expected.update(expected_results(
                [q for q, s in self.ops if s == sf], sf_dir, sf, draw,
                os.path.join(cache, "expected")))
        # one-time build work (tables, oracle cache), not set-up
        self.build_s = time.perf_counter() - t0

    def setup(self) -> None:
        """Primes the session with one small scan, shuffle and Arrow
        transfer, plus one pandas UDF so the Python workers are up. Each
        op's own first-use cost stays in its timed call."""
        nation = self.spark.read.parquet(
            os.path.join(self.dirs[min(self.dirs)], "nation.parquet"))
        nation.groupBy("n_regionkey").count().toPandas()
        nation.mapInPandas(lambda it: (pd.DataFrame({"n": [len(b)]}) for b in it),
                           "n long").toPandas()

    def round_ops(self) -> list[tuple[str, object]]:
        return [(q, self._op(q, self.dirs[sf])) for q, sf in self.ops]

    def _op(self, name: str, sf_dir: str):
        def run():
            pdf = self.queries[name](self.spark, sf_dir).toPandas()
            return len(pdf), lambda: self._check(name, pdf)
        return run

    def _check(self, name: str, pdf: pd.DataFrame) -> str | None:
        from tests.conftest import assert_frames_match

        if self.corrupt:
            pdf = pdf.iloc[:-1]
        try:
            assert_frames_match(pdf, self.expected[name], name)
        except AssertionError as exc:
            return str(exc).splitlines()[0][:300]
        return None

    def round_check(self) -> list[str | None]:
        return []

    def start_trace(self) -> None:
        pass

    def stop_trace(self) -> None:
        pass

    def trace_metrics(self, rounds: list[dict]) -> dict[str, float]:
        return {}

    def clean_round(self) -> None:
        pass
