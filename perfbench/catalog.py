"""``catalog`` workload: the benched catalog entries, then one pass of the
offline lifecycle, every result collected and checked.

The entries run as a closed loop of three clients: each client takes the
next entry when its previous result is collected. The three IVM entries go
first, so that no long entry starts near the end of the pass and leaves the
other clients idle; each group runs in an order shuffled by the seed. When
every entry has run once, the lifecycle (``perfbench.offline``) runs alone.
A run is exactly one of each. The two parts are timed on their own
(``catalog_pass_s``, ``offline_pipeline_s``) and the gated ``pass_s`` is
their sum, so a change to either moves it and neither hides the other.

The entries are sub-second jobs on a small star schema, bound by planning,
scheduling and Python-worker overhead; the lifecycle is per-row work.
"""

from __future__ import annotations

import queue
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench import gen
from perfbench.checks import canon_digest, failure
from perfbench.harness import clear_caches, median, percentile
from perfbench.offline import OfflineLifecycle

CLIENTS = 3


def entries() -> dict[str, list[str]]:
    """The benched entries by section, taken from the repository's bench."""
    import bench

    return {"headline": bench.HEADLINE, "ivm": bench.IVM_SECTION, "drift": bench.DRIFT_SECTION}


class Catalog:
    PASS = "pass_s"

    def __init__(self, spark, tracer, seed: int, input_dir: str):
        import duckdb

        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.dir = f"{input_dir}/catalog"
        gen.catalog_tables(np.random.default_rng([seed, 1]), self.dir)
        self.offline = OfflineLifecycle(spark, tracer, seed, f"{input_dir}/ml1m")
        self.sections = entries()
        self.section_of = {e: s for s, es in self.sections.items() for e in es}
        self.ddb = duckdb.connect()
        for t in gen.CATALOG_TABLES:
            self.ddb.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        self.samples: list[tuple[str, float, float, str]] = []  # entry, build_s, exec_s, digest
        self.errors: list[str] = []
        self.windows: dict[str, tuple[float, float]] = {}  # epoch-second spans of the two parts
        self.pass_s = 0.0
        self._lock = threading.Lock()

    def run(self, seconds: float) -> None:
        """Exactly one pass of each part, whatever ``seconds`` says: a second
        pass would run warm, and whether it fits would depend on the host."""
        ivm = sorted(self.sections["ivm"])
        rest = sorted(n for n in self.section_of if n not in ivm)
        rng = np.random.default_rng([self.seed, 2])
        work = queue.SimpleQueue()
        for group in (ivm, rest):
            for i in rng.permutation(len(group)):
                work.put(group[i])
        # cache hygiene before each part only: unpersisting while another
        # client's entry runs would drop its truncated-lineage checkpoints
        clear_caches(self.spark)
        t0 = time.time()
        with ThreadPoolExecutor(CLIENTS) as pool:
            for f in [pool.submit(self._client, work) for _ in range(CLIENTS)]:
                f.result()
        t1 = time.time()
        clear_caches(self.spark)
        self.offline.run_once()
        self.windows = {"catalog": (t0, t1), "offline": (t1, time.time())}
        self.pass_s = t1 - t0

    def _client(self, work: queue.SimpleQueue) -> None:
        while True:
            try:
                name = work.get_nowait()
            except queue.Empty:
                return
            self._entry(name)

    def _entry(self, name: str) -> None:
        """One entry, collected and digested; a failure is recorded by name
        and the pass goes on."""
        from real_time_recommendation_system_with_feature_store_spark.queries import QUERIES

        sc = self.spark.sparkContext
        spec = QUERIES[name]
        try:
            with self.tracer.span(f"section.{self.section_of[name]}", sc), self.tracer.span(f"queries.{name}", sc):
                t0 = time.perf_counter()
                with self.tracer.span("queries.build", sc):
                    df = spec.fn(self.spark, self.dir)
                t1 = time.perf_counter()
                with self.tracer.span("queries.exec", sc):
                    pdf = df.toPandas()
                t2 = time.perf_counter()
            digest = canon_digest(pdf)
        except Exception as e:
            with self._lock:
                self.errors.append(failure(f"catalog:{name}", e))
            return
        with self._lock:
            self.samples.append((name, t1 - t0, t2 - t1, digest))

    def check(self) -> tuple[int, list[str]]:
        """Every collected entry result against its DuckDB oracle (an entry
        without an oracle is a failure), plus the offline lifecycle's checks."""
        from real_time_recommendation_system_with_feature_store_spark.queries import QUERIES

        oracle: dict[str, str] = {}
        fails = list(self.errors)
        for name, _, _, digest in self.samples:
            if name not in oracle:
                sql = QUERIES[name].oracle
                oracle[name] = canon_digest(self.ddb.execute(sql).df()) if sql else "no oracle"
            if digest != oracle[name]:
                fails.append(f"catalog:{name}: result digest differs from the DuckDB oracle")
        off_attempted, off_fails = self.offline.check()
        return len(self.samples) + len(self.errors) + off_attempted, fails + off_fails

    def report(self) -> dict[str, float]:
        lat = [b + e for _, b, e, _ in self.samples] or [float("nan")]
        off = self.offline.report()
        return {
            "pass_s": self.pass_s + off["offline_pipeline_s"],
            "catalog_pass_s": self.pass_s,
            "catalog_query_p50_s": median(lat),
            "catalog_query_p90_s": percentile(lat, 90.0),
            "catalog_query_samples": float(len(self.samples)),
            **off,
        }

    def layer_metrics(self) -> dict[str, float]:
        out = {"queries.build_s": sum(b for _, b, _, _ in self.samples),
               "queries.exec_s": sum(e for _, _, e, _ in self.samples)}
        for name in self.section_of:
            out[f"queries.{name}_s"] = sum(b + e for n, b, e, _ in self.samples if n == name)
        for section, names in self.sections.items():
            out[f"section.{section}_s"] = sum(out[f"queries.{n}_s"] for n in names)
        return {**out, **self.offline.layer_metrics()}

    def close(self) -> None:
        self.offline.close()
        self.ddb.close()
