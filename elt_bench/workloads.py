"""The two closed-loop workloads and the four request kinds they mix.

Each request kind (a part) has the same shape, driven by ``run.py``:

- ``prepare()`` writes the seeded inputs and computes the independent
  answers (no Spark);
- ``stage(spark)`` does the Spark-side staging (loading Derby, the
  first full extract);
- ``before(i)`` makes untimed changes to the inputs ahead of request i;
- ``request(i)`` is the timed request; it returns a dict with ``rows``
  (source rows landed, rows read or documents curated), ``ok`` (the
  program reported success), ``out_bytes`` and workload details;
- ``check(i, res)`` compares the request's outputs with the independent
  answers and returns (checks made, checks passed).

Requests come in cycles of ``cycle`` requests (all three JDBC tables, five
append + retention pairs that touch every lake table alike, one SQL mix,
one corpus shard). A workload runs two parts in one session: a ``Mix``
cycle is one cycle of each part, a ``Fused`` request runs one request of
each part. A run always times whole cycles, so every run sees the same
request mix whatever the seed.
Calls into the program go through module attributes, so the traced run's
wrappers see them.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

from elt_bench import check, gen


class Workload:
    name = ""
    cycle = 1
    warmup = 1  # untimed requests before timing starts

    def __init__(self, work: str, seed: int, cpus: int, small: bool, span):
        self.work = work
        self.seed = seed
        self.cpus = cpus
        self.small = small
        self.span = span  # span(name, layer) context; a no-op when untraced
        self.rng = np.random.default_rng([seed, 99])
        self.spark = None

    def prepare(self) -> None:
        raise NotImplementedError

    def stage(self, spark) -> None:
        self.spark = spark

    def before(self, i: int) -> None:
        pass

    def request(self, i: int) -> dict:
        raise NotImplementedError

    def check(self, i: int, res: dict) -> tuple[int, int]:
        raise NotImplementedError


def _files(path: str) -> list[str]:
    """Data files of a Spark sink directory (checksums are dot-files)."""
    return sorted(os.path.join(path, f) for f in os.listdir(path) if f.startswith("part-"))


# ---------------------------------------------------------------------------


class JdbcExtract(Workload):
    """introspect_jdbc -> plan_partitions -> scan -> write_ndjson (gzip) ->
    reconcile, one Derby table per request, over the three key shapes."""

    name = "jdbc_extract"
    cycle = 3
    warmup = 6
    TYPES = {pa.int64(): "BIGINT", pa.int32(): "INT", pa.float64(): "DOUBLE", pa.string(): "VARCHAR(64)"}

    def prepare(self) -> None:
        rows = 1_000 if self.small else 40_000
        self.tables = gen.jdbc_tables(self.seed, rows)
        self.expected = {}
        os.makedirs(f"{self.work}/csv", exist_ok=True)
        for name, (t, _) in self.tables.items():
            pacsv.write_csv(
                t, f"{self.work}/csv/{name}.csv",
                pacsv.WriteOptions(include_header=False, quoting_style="needed"),
            )
            self.expected[name] = check.multiset_hash(t)
        self.url = f"jdbc:derby:{self.work}/derby;create=true"

    def stage(self, spark) -> None:
        super().stage(spark)
        jvm = spark.sparkContext._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            st = conn.createStatement()
            for name, (t, key) in self.tables.items():
                cols = ", ".join(
                    f"{f.name} {self.TYPES[f.type]}" + (" PRIMARY KEY" if f.name == key else "")
                    for f in t.schema
                )
                st.execute(f"CREATE TABLE {name.upper()} ({cols})")
                st.execute(
                    "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE("
                    f"NULL, '{name.upper()}', '{self.work}/csv/{name}.csv', ',', '\"', 'UTF-8', 0)"
                )
            st.close()
        finally:
            conn.close()
        self.order = []

    def _table(self, i: int) -> str:
        while len(self.order) <= i:
            self.order.extend(self.rng.permutation(sorted(self.tables)).tolist())
        return self.order[i]

    def request(self, i: int) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from dumpty_spark.plans import planner, state
        from dumpty_spark.sinks import writers
        from dumpty_spark.sources import jdbc

        spark = self.spark
        name = self._table(i)
        _, pk = self.tables[name]
        src = jdbc.JdbcSource(url=self.url, table=name.upper(), dirty_read=False)
        stats = jdbc.introspect_jdbc(spark, src, pk)
        try:
            plan = planner.plan_partitions(stats, partitions_override=self.cpus)
        except ValueError:
            # not dense: equal-frequency boundaries from a single-cursor
            # primary-key probe, as the predicates strategy requires
            with self.span("jdbc.boundary_probe", "bench"):
                probe = jdbc.scan(spark, src, planner.PartitionPlan(strategy="single")).select(pk)
                bounds = planner.approx_boundaries(probe, pk, self.cpus, rel_err=0.0)
            plan = planner.plan_partitions(
                stats, partitions_override=self.cpus, boundaries=bounds
            )
        df = jdbc.scan(spark, src, plan)
        obs = Observation(f"landed-{i}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        path = f"{self.work}/sink/{name}"
        glob_uri = writers.write_ndjson(df, path)
        writers.write_schema_sidecar(df, path)
        with self.span("reconcile", "bench"):
            st = state.TableState(name=name, rows=stats.rows, rows_loaded=int(obs.get["rows"]))
            ok = st.consistent()
        out_bytes = writers.sink_size_bytes(glob_uri)
        return {
            "rows": st.rows_loaded, "ok": ok, "out_bytes": out_bytes, "table": name,
            "strategy": plan.strategy, "partitions": plan.partitions, "path": path,
            "failures": [] if ok else [[name, st.rows, st.rows_loaded]],
            "mismatched": 0 if ok else 1, "files": len(_files(path)), "sink_format": "ndjson",
        }

    def check(self, i: int, res: dict) -> tuple[int, int]:
        t, _ = self.tables[res["table"]]
        parts = [check.read_ndjson_gz(p) for p in _files(res["path"])]
        res["slice_rows"] = [0 if p is None else p.num_rows for p in parts]
        got = check.conform(
            pa.concat_tables([p for p in parts if p is not None], promote_options="default"), t.schema
        )
        return 1, int(check.multiset_hash(got) == self.expected[res["table"]])


# ---------------------------------------------------------------------------


LAKE_TABLES = {
    # table: (key column offset on append, double column rewritten)
    "customer": ("c_custkey", "c_acctbal"),
    "orders": ("o_orderkey", "o_totalprice"),
    "lineitem": ("l_orderkey", "l_extendedprice"),
    "part": ("p_partkey", "p_retailprice"),
    "supplier": ("s_suppkey", "s_acctbal"),
}


class LakeIncremental(Workload):
    """A full extract in set-up, then seeded incremental rounds through the
    CLI: changed_tables -> select_incremental -> run_pipeline (parquet sink,
    persistent StateStore). Rounds come in pairs: an append round grows one
    table and rewrites another; a retention round drops the appended
    table's oldest rows (back to its first row count) and rewrites a third.
    Each round reads a fresh source directory, as a separate CLI process
    would: unchanged tables are hard links that keep their mtime."""

    name = "lake_incremental"
    cycle = 10
    warmup = 4

    def prepare(self) -> None:
        sf = 0.001 if self.small else 0.005
        all_t = gen.tpch_tables(self.seed, sf)
        self.tables = {n: all_t[n] for n in LAKE_TABLES}
        self.hashes = {n: check.multiset_hash(t) for n, t in self.tables.items()}
        self.perm = self.rng.permutation(sorted(LAKE_TABLES)).tolist()
        self.src = f"{self.work}/lake/r-setup"
        os.makedirs(self.src)
        for n, t in self.tables.items():
            pq.write_table(t, f"{self.src}/{n}.parquet")
        self.sink = f"{self.work}/lake/sink"
        self.state = f"{self.work}/lake/state"
        self.appended: dict[str, int] = {}

    def _cli(self, mode: str) -> tuple[int, dict]:
        from dumpty_spark import cli

        argv = [
            "--source-dir", self.src, "--sink-dir", self.sink, "--state-dir", self.state,
            "--extract", mode, "--format", "parquet", "--workers", str(self.cpus),
            "--fastcount", "--tables", *LAKE_TABLES,
        ]
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rc = cli.main(argv)
        return rc, json.loads(out.getvalue().strip().splitlines()[-1])

    def stage(self, spark) -> None:
        super().stage(spark)
        rc, summary = self._cli("full")
        if rc != 0:
            raise RuntimeError(f"full extract failed: {summary}")
        self.base_rows = {n: t.num_rows for n, t in self.tables.items()}

    def _rewrite(self, name: str) -> None:
        t = self.tables[name]
        _, col = LAKE_TABLES[name]
        vals = t[col].to_numpy().copy()
        hit = self.rng.random(len(vals)) < 0.1
        vals[hit] *= 1.01
        self.tables[name] = t.set_column(t.schema.get_field_index(col), col, pa.array(vals))

    def before(self, i: int) -> None:
        pair, kind = divmod(i, 2)
        a = self.perm[pair % 5]
        changed = [a]
        t = self.tables[a]
        if kind == 0:
            key, _ = LAKE_TABLES[a]
            delta = max(5, self.base_rows[a] // 50)
            new = t.take(self.rng.choice(t.num_rows, delta, replace=False))
            k = new[key].to_numpy() + pc.max(t[key]).as_py() + 1
            new = new.set_column(new.schema.get_field_index(key), key, pa.array(k, pa.int64()))
            self.tables[a] = pa.concat_tables([t, new])
            self.appended[a] = delta
            other = self.perm[(pair + 2) % 5]
        else:
            self.tables[a] = t.slice(self.appended.pop(a))
            other = self.perm[(pair + 3) % 5]
        self._rewrite(other)
        changed.append(other)
        prev, self.src = self.src, f"{self.work}/lake/r{i:04d}"
        os.makedirs(self.src)
        for n in LAKE_TABLES:
            if n in changed:
                pq.write_table(self.tables[n], f"{self.src}/{n}.parquet")
                self.hashes[n] = check.multiset_hash(self.tables[n])
            else:
                os.link(f"{prev}/{n}.parquet", f"{self.src}/{n}.parquet")
        if i >= 2:
            shutil.rmtree(f"{self.work}/lake/r{i - 2:04d}", ignore_errors=True)

    def request(self, i: int) -> dict:
        rc, summary = self._cli("incremental")
        tabs = summary["tables"]
        failures = [[n, s["rows"], s["rows_loaded"]] for n, s in tabs.items() if not s["consistent"]]
        failures += [[n, "error", e] for n, e in summary["errors"].items()]
        return {
            "rows": sum(s["rows_loaded"] or 0 for s in tabs.values()),
            "ok": rc == 0,
            "out_bytes": summary["total_bytes"],
            "tables": sorted(tabs),
            "failures": failures,
            "mismatched": len(failures),
            "files": sum(len(_files(f"{self.sink}/{n}")) for n in tabs),
            "sink_format": "parquet",
        }

    def check(self, i: int, res: dict) -> tuple[int, int]:
        good = 0
        for n in res["tables"]:
            got = check.conform(check.read_parquet_dir(f"{self.sink}/{n}"), self.tables[n].schema)
            good += int(check.multiset_hash(got) == self.hashes[n])
        return len(res["tables"]), good


# ---------------------------------------------------------------------------


SQL_MIX = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q13_customer_distribution",
    "q18_large_orders",
    "q_window_rank_per_segment",
    "q_setops_customers",
]
TPCH = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


class SqlAnalytics(Workload):
    """Each request runs the whole mix of registry queries, in a fresh
    seeded order, and collects every result. No sink: queries, session and
    AQE planning."""

    name = "sql_analytics"
    warmup = 2

    def prepare(self) -> None:
        import re

        from dumpty_spark import queries

        sf = 0.002 if self.small else 0.01
        self.dir = f"{self.work}/tpch"
        os.makedirs(self.dir)
        tabs = gen.tpch_tables(self.seed, sf)
        for n, t in tabs.items():
            pq.write_table(t, f"{self.dir}/{n}.parquet")
        sql = {q: queries.REGISTRY[q].oracle for q in SQL_MIX}
        self.expected = check.duckdb_answers(self.dir, TPCH, sql)
        # rows read: every row of every table the query names
        self.rows_read = {
            q: sum(tabs[t].num_rows for t in set(re.findall(r"\b(" + "|".join(TPCH) + r")\b", s)))
            for q, s in sql.items()
        }

    def request(self, i: int) -> dict:
        from dumpty_spark import queries

        results = {}
        for q in self.rng.permutation(SQL_MIX).tolist():
            with self.span(f"sql.{q}", "bench"):
                with self.span(f"queries.{q}", "queries"):
                    df = queries.REGISTRY[q].fn(self.spark, self.dir)
                rows = df.collect()
            results[q] = check.canonical_rows(df.columns, rows)
        return {
            "rows": sum(self.rows_read.values()), "ok": True, "results": results,
            "out_bytes": sum(len("\t".join(r)) + 1 for got in results.values() for r in got),
            "failures": [], "mismatched": 0, "files": 0,
        }

    def check(self, i: int, res: dict) -> tuple[int, int]:
        results = res.pop("results")
        return len(results), sum(check.rows_match(got, self.expected[q]) for q, got in results.items())


# ---------------------------------------------------------------------------


class CorpusCuration(Workload):
    """One corpus shard per request: quality filter -> exact_dedup ->
    minhash_lsh_pairs -> connected_components -> ann_lsh_topk batch."""

    name = "corpus_curation"
    SHARDS = 1
    QUALITY = 0.5
    JACCARD = 0.8
    K = 10
    N_QUERIES = 8

    def prepare(self) -> None:
        shards, per = self.SHARDS, (120 if self.small else 300)
        self.cycle = shards
        # two passes: a shard's first request runs extra Spark jobs
        self.warmup = 2 * shards
        docs, emb, shard_of = gen.corpus(self.seed, shards, per)
        self.shards = []
        texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False))
        ids = emb["vec_id"].to_numpy()
        for s in range(shards):
            d = f"{self.work}/corpus/s{s}"
            os.makedirs(d)
            mask = pa.array(shard_of == s)
            pq.write_table(docs.filter(mask), f"{d}/documents.parquet")
            pq.write_table(emb.filter(mask), f"{d}/embeddings.parquet")
            sid = ids[shard_of == s]
            stexts = {int(i): texts[int(i)] for i in sid}
            kept = {i for i, t in stexts.items() if check.quality_score(t) >= self.QUALITY}
            distinct: dict[str, int] = {}
            for i in sorted(kept):
                distinct.setdefault(stexts[i], i)
            comps = check.near_dup_components({i: t for t, i in distinct.items()}, self.JACCARD)
            groups: dict[int, set] = {}
            for i, root in comps.items():
                groups.setdefault(root, set()).add(stexts[i])
            queries = self.rng.choice(sid, self.N_QUERIES, replace=False)
            topk, unit, pos = check.cosine_topk(sid, vecs[shard_of == s], queries, self.K)
            self.shards.append({
                "dir": d, "n": len(sid), "texts": stexts, "kept": kept,
                "distinct": set(distinct), "groups": {frozenset(g) for g in groups.values()},
                "queries": [int(q) for q in queries], "topk": topk, "unit": unit, "pos": pos,
            })

    def stage(self, spark) -> None:
        """Resolve every shard's tables once (file listing and schema), as
        a catalog would, so a shard's first request is not dearer than its
        later ones."""
        from dumpty_spark.sources import load_table

        super().stage(spark)
        for sh in self.shards:
            load_table(spark, sh["dir"], "documents")
            load_table(spark, sh["dir"], "embeddings")

    def request(self, i: int) -> dict:
        from pyspark.sql import functions as F

        from dumpty_spark.functions import text
        from dumpty_spark.operators import dedup, similarity
        from dumpty_spark.sources import load_table

        spark = self.spark
        sh = self.shards[i % len(self.shards)]
        docs = load_table(spark, sh["dir"], "documents")
        emb = load_table(spark, sh["dir"], "embeddings")
        with self.span("text.filter", "bench"):
            kept = docs.filter(text.quality_score("text") >= self.QUALITY).cache()
            kept_ids = [r[0] for r in kept.select("doc_id").collect()]
        with self.span("dedup.exact", "bench"):
            dd = dedup.exact_dedup(kept, ["text"]).cache()
            dd_ids = [r[0] for r in dd.select("doc_id").collect()]
        with self.span("dedup.minhash", "bench"):
            pairs_df = dedup.minhash_lsh_pairs(dd, "doc_id", "text", threshold=self.JACCARD).cache()
            pairs = pairs_df.collect()
        with self.span("dedup.cc", "bench"):
            comps = dedup.connected_components(pairs_df.select("a_id", "b_id")).collect()
        with self.span("ann.search", "bench"):
            qdf = emb.filter(F.col("vec_id").isin(sh["queries"]))
            ann = similarity.ann_lsh_topk(emb, qdf, k=self.K).collect()
        for d in (kept, dd, pairs_df):
            d.unpersist()
        out = {
            "rows": sh["n"], "ok": True, "shard": i % len(self.shards),
            "kept": kept_ids, "dedup": dd_ids, "pairs": [tuple(r) for r in pairs],
            "comps": [tuple(r) for r in comps], "ann": [tuple(r) for r in ann],
            "failures": [], "mismatched": 0, "files": 0,
        }
        # the curated corpus: deduplicated documents, one per near-dup
        # component, measured as text bytes
        dropped = {doc for doc, root in out["comps"] if doc != root}
        out["out_bytes"] = sum(len(sh["texts"][d].encode()) for d in dd_ids if d not in dropped)
        return out

    def trace_extra(self, i: int, res: dict) -> None:
        """Traced run only, outside the request: count the LSH candidate
        pairs the verify step had to check, from the same public sketch
        functions minhash_lsh_pairs uses (32 hashes, 8 bands)."""
        from pyspark.sql import functions as F

        from dumpty_spark.operators import dedup
        from dumpty_spark.sources import load_table

        docs = load_table(self.spark, self.shards[res["shard"]]["dir"], "documents")
        dd = docs.filter(F.col("doc_id").isin(res["dedup"]))
        sig = dedup.minhash_signatures(dd, "doc_id", "text")
        banded = sig.select(
            "id", F.posexplode(dedup.minhash_band_hashes(F.col("sig"), 32, 8)).alias("band_idx", "band_hash")
        )
        res["candidates"] = (
            banded.alias("x").join(banded.alias("y"), ["band_idx", "band_hash"])
            .filter(F.col("x.id") < F.col("y.id"))
            .select("x.id", "y.id").distinct().count()
        )

    def check(self, i: int, res: dict) -> tuple[int, int]:
        sh = self.shards[res["shard"]]
        texts = sh["texts"]
        ok_kept = set(res.pop("kept")) == sh["kept"]
        dd = res.pop("dedup")
        ok_dedup = len(dd) == len(sh["distinct"]) and {texts[i] for i in dd} == sh["distinct"]
        groups: dict[int, set] = {}
        for doc, root in res.pop("comps"):
            groups.setdefault(root, set()).add(texts[doc])
        ok_cc = {frozenset(g) for g in groups.values()} == sh["groups"]
        pairs = res.pop("pairs")
        res["verified_pairs"] = len(pairs)
        # ANN: every returned similarity is the exact cosine; recall vs brute force
        ann = res.pop("ann")
        unit, pos = sh["unit"], sh["pos"]
        ok_sim = all(abs(float(unit[pos[q]] @ unit[pos[n]]) - s) <= 1.5e-4 for q, n, s, _ in ann)
        found: dict[int, set] = {}
        for q, n, _, _ in ann:
            found.setdefault(q, set()).add(n)
        hits = sum(len(found.get(q, set()) & set(t)) for q, t in sh["topk"].items())
        res["recall"] = hits / (self.K * len(sh["topk"]))
        res["kept_ratio"] = len(sh["kept"]) / sh["n"]
        return 4, int(ok_kept) + int(ok_dedup) + int(ok_cc) + int(ok_sim)


# ---------------------------------------------------------------------------


class Mix(Workload):
    """Several parts in one session and one closed loop. Every part is
    prepared, staged and warmed up in turn; after that a cycle is one
    cycle of each part, in the order given. Each part sees its own request
    numbers 0, 1, 2, ..."""

    parts: tuple = ()

    def __init__(self, work: str, seed: int, cpus: int, small: bool, span):
        super().__init__(work, seed, cpus, small, span)
        self.subs = [p(f"{work}/{p.name}", seed, cpus, small, span) for p in self.parts]
        self.sched: list[tuple[Workload, int]] = []
        self.taken = [0] * len(self.subs)

    @property
    def warmup(self) -> int:
        return sum(w.warmup for w in self.subs)

    @property
    def cycle(self) -> int:
        return sum(w.cycle for w in self.subs)

    def prepare(self) -> None:
        for w in self.subs:
            w.prepare()

    def stage(self, spark) -> None:
        super().stage(spark)
        for w in self.subs:
            w.stage(spark)

    def route(self, i: int) -> tuple[Workload, int]:
        """The part serving request i, and the part's own request number:
        first every part's warm-up, then whole cycles."""
        while len(self.sched) <= i:
            first = not self.sched
            for j, w in enumerate(self.subs):
                n = w.warmup if first else w.cycle
                self.sched += [(w, self.taken[j] + k) for k in range(n)]
                self.taken[j] += n
        return self.sched[i]

    def before(self, i: int) -> None:
        w, k = self.route(i)
        w.before(k)

    def request(self, i: int) -> dict:
        w, k = self.route(i)
        return {**w.request(k), "part": w.name}

    def trace_extra(self, i: int, res: dict) -> None:
        w, k = self.route(i)
        extra = getattr(w, "trace_extra", None)
        if extra:
            extra(k, res)

    def check(self, i: int, res: dict) -> tuple[int, int]:
        w, k = self.route(i)
        return w.check(k, res)


class Fused(Mix):
    """Like Mix, but one request runs one request of every part, back to
    back. For parts whose requests take clearly different times: the
    median of a mix of two latency clusters falls between them and jumps
    from run to run, while a fused request's latency has one cluster.
    Every part's cycle must be one request."""

    @property
    def warmup(self) -> int:
        return max(w.warmup for w in self.subs)

    cycle = 1

    def before(self, i: int) -> None:
        for w in self.subs:
            w.before(i)

    def request(self, i: int) -> dict:
        outs = [w.request(i) for w in self.subs]
        return {
            "rows": sum(o["rows"] for o in outs), "ok": all(o["ok"] for o in outs),
            "out_bytes": sum(o["out_bytes"] for o in outs),
            "failures": [f for o in outs for f in o["failures"]],
            "mismatched": sum(o["mismatched"] for o in outs),
            "files": sum(o["files"] for o in outs), "part": self.name, "outs": outs,
        }

    def trace_extra(self, i: int, res: dict) -> None:
        for w, o in zip(self.subs, res["outs"]):
            extra = getattr(w, "trace_extra", None)
            if extra:
                extra(i, o)

    def check(self, i: int, res: dict) -> tuple[int, int]:
        n = good = 0
        for w, o in zip(self.subs, res.pop("outs")):
            a, b = w.check(i, o)
            n, good = n + a, good + b
            # per-part details the traced run reports (recall, kept_ratio, ...)
            res.update({k: v for k, v in o.items() if k not in res})
        return n, good


class EltExtract(Mix):
    """The extract jobs: JDBC tables to gzip NDJSON, and incremental lake
    rounds through the CLI to parquet."""

    name = "elt_extract"
    parts = (JdbcExtract, LakeIncremental)


class Analytics(Fused):
    """The read side: each request runs the SQL mix, then curates a corpus
    shard."""

    name = "analytics"
    parts = (SqlAnalytics, CorpusCuration)


WORKLOADS = {w.name: w for w in (EltExtract, Analytics)}
