"""The workloads: inputs, one iteration, reset and output checks.

Each workload drives public entry points of ``datawaves_etl_airflow_spark``
and nothing else. ``run(tr)`` executes one iteration; with a ``Tracer``
the same calls run one at a time inside spans, and each lazy result is
materialised at its call boundary so the span holds its own work.
``check()`` reads the outputs back with pyarrow (no Spark) and returns a
``Report``.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import checks
import gen_abi
import gen_corpus
import gen_evm
from spans import NullTracer

from datawaves_etl_airflow_spark.operators import enrich, sinks, verify
from datawaves_etl_airflow_spark.operators.decode import (
    decode_call_functions,
    decode_log_events,
    extract_token_transfers,
)
from datawaves_etl_airflow_spark.operators.transfer import (
    TransferTarget,
    transfer_partition,
)
from datawaves_etl_airflow_spark.pipeline.runner import run_evm_day
from datawaves_etl_airflow_spark.schemas.abi import AbiElement
from datawaves_etl_airflow_spark.sources.registry import load_contracts_dir
from datawaves_etl_airflow_spark.sources.staging import read_staging
from pyspark.sql import functions as F


@dataclass
class Report:
    """Outcome of one checked iteration. ``ops`` is the number of
    operations (pipeline tasks, decoded tables or curation stages) one
    iteration attempts; ``failed`` names those whose check failed."""

    ops: int
    failed: set = field(default_factory=set)
    messages: list = field(default_factory=list)
    recall: float = 0.0
    counts: dict = field(default_factory=dict)

    def add(self, op: str, fails: list[str]) -> None:
        if fails:
            self.failed.add(op)
            self.messages.extend(fails)


def dir_stats(path: str) -> dict:
    """Data files, bytes and leaf partition directories under ``path``."""
    files = size = 0
    leaves = set()
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
            leaves.add(root)
    return {"files": files, "bytes": size, "partition_dirs": len(leaves)}


def count_rows(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return pads.dataset(path, format="parquet",
                        partitioning="hive").count_rows()


def read_day(path: str, ds: str):
    """One day's partition as a pyarrow table (without partition cols)."""
    return pads.dataset(os.path.join(path, f"dt={ds}"),
                        format="parquet").to_table()


def _day(df, ds: str):
    return df.filter(F.col("dt") == F.lit(ds).cast("date"))


def _materialise(df):
    """Persist and count: the call's work happens here, inside its span."""
    df = df.persist()
    return df, df.count()


class Workload:
    name = ""

    def __init__(self, spark, inputs: str, work: str, manifest: dict):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.manifest = manifest
        self.cores = spark.sparkContext.defaultParallelism

    # inputs are generated once per (seed, size) and cached
    @staticmethod
    def generate(base: str, seed: int) -> dict:
        raise NotImplementedError

    def prepare(self) -> None:
        """One-time state the iterations start from; also warms up."""

    def reset(self) -> None:
        """Bring the outputs back to the state before an iteration."""

    def run(self, tr) -> None:
        raise NotImplementedError

    def n_ops(self) -> int:
        """Operations one iteration attempts."""
        raise NotImplementedError

    def check(self) -> Report:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# evm_day
# ---------------------------------------------------------------------------

class EvmDay(Workload):
    """The daily DAG for one ethereum day, into a warehouse that already
    holds earlier days: load → enrich → verify (``run_evm_day``), parse
    (every Transfer log, then one decoded table per registry contract
    event and function, address- and selector-pruned) and transfer of
    the registry tables to a client path target."""

    name = "evm_day"
    SIZE = {"n_blocks": 200, "tx_per_block": 100, "n_history": 2,
            "hist_blocks": 10, "n_contracts": 1, "abi_rows": 600}
    DS = gen_evm.TARGET_DS
    #: ``run_evm_day``'s tasks plus the Transfer parse; one parse and
    #: one transfer task per registry table come on top
    TASKS = (
        [f"load_{t}" for t in gen_evm.TABLES]
        + [f"enrich_{t}" for t in gen_evm.WAREHOUSE_TABLES]
        + ["extract_token_transfers", "verify", "parse_evt_Transfer"]
    )

    @staticmethod
    def generate(base, seed):
        return gen_evm.generate(base, seed, **EvmDay.SIZE)

    def __init__(self, *a):
        super().__init__(*a)
        self.wh = os.path.join(self.work, "warehouse")
        self.client = os.path.join(self.work, "client")
        self.abi_dir = os.path.join(self.inputs, "abi")
        self.el = AbiElement.from_dict(self.manifest["transfer_abi"])
        self.day = self.manifest["days"][-1]
        self.verify_result: dict = {}
        self.copied: dict[str, int] = {}

    def _wh(self, table: str) -> str:
        return os.path.join(self.wh, gen_evm.CHAIN, table)

    def n_ops(self):
        return len(self.TASKS) + 2 * len(self.day["abi_planted"])

    def prepare(self):
        # earlier days, oldest first, through load/enrich/verify and the
        # Transfer parse; the first one also warms the JVM
        for day in self.manifest["days"][:-1]:
            self._run_day(NullTracer(), day["ds"], registry=False)
        self._tokens_before = set(os.listdir(self._wh("tokens")))

    def reset(self):
        for table in os.listdir(os.path.join(self.wh, gen_evm.CHAIN)):
            shutil.rmtree(os.path.join(self._wh(table), f"dt={self.DS}"),
                          ignore_errors=True)
        shutil.rmtree(self.client, ignore_errors=True)
        tokens = self._wh("tokens")
        for n in set(os.listdir(tokens)) - self._tokens_before:
            os.remove(os.path.join(tokens, n))

    def run(self, tr):
        self._run_day(tr, self.DS)

    def _run_day(self, tr, ds: str, registry: bool = True) -> None:
        if tr.enabled:
            self.verify_result = self._load_enrich_verify(tr, ds)
        else:
            self.verify_result = run_evm_day(
                self.spark, self.inputs, self.wh, ds)["verify"]
        logs = _day(self.spark.read.parquet(self._wh("logs")), ds)
        traces = _day(self.spark.read.parquet(self._wh("traces")), ds)
        self._decode(tr, "evt_Transfer", "logs", ds,
                     lambda: decode_log_events(logs, self.el), ["from"])
        if not registry:
            return
        with tr.span("load_contracts_dir", "registry"):
            contracts = load_contracts_dir(self.abi_dir)
        tables = []
        for c in contracts:
            for el in c.abi:
                table = c.table_name(el)
                params = [i.name for i in el.inputs + el.outputs]
                if el.type == "event":
                    self._decode(tr, table, "logs", ds, lambda: decode_log_events(
                        logs, el, c.contract_address), params)
                else:
                    self._decode(tr, table, "traces", ds,
                                 lambda: decode_call_functions(
                                     traces, el, c.contract_address), params)
                tables.append(table)
        target = TransferTarget("path", self.client)
        for table in tables:
            with tr.span(f"transfer_partition:{table}", "transfer") as sp:
                self.copied[table] = transfer_partition(
                    self.spark, self._wh(table), target, table, ds)
            if tr.enabled:
                tr.count(sp, rows=self.copied[table], bytes=dir_stats(
                    os.path.join(self.client, table, f"dt={ds}"))["bytes"])

    def _decode(self, tr, table, source, ds, decode, params) -> None:
        """Decode into ``table`` and write it. Traced, the decode is
        materialised inside its own span, counting rows with at least
        one decoded value and the files of the pruned source table."""
        with tr.span(f"decode:{table}", "decode") as sp:
            out = decode()
            if tr.enabled:
                out = out.persist()
                any_value = F.lit(False)
                for p in params:
                    any_value = any_value | F.col(p).isNotNull()
                n, ok = out.agg(F.count(F.lit(1)),
                                F.count(F.when(any_value, 1))).collect()[0]
                tr.count(sp, rows=n, ok=ok, files_total=dir_stats(
                    os.path.join(self._wh(source), f"dt={ds}"))["files"])
        self._sink(tr, table, out, ds)
        if tr.enabled:
            out.unpersist()

    def _sink(self, tr, table, df, ds, extra=None) -> None:
        with tr.span(f"write_partitioned:{table}", "sinks") as sp:
            sinks.write_partitioned(df, "", ds, extra, path=self._wh(table))
        if tr.enabled:
            tr.count(sp, **dir_stats(os.path.join(self._wh(table), f"dt={ds}")))

    def _load_enrich_verify(self, tr, ds: str) -> dict:
        """``run_evm_day``'s load, enrich and verify tasks, one public
        call at a time."""
        sp_ = self.spark
        loads, cached = {}, []
        for t in gen_evm.TABLES:
            with tr.span(f"read_staging:{t}", "sources"):
                df, _ = _materialise(read_staging(
                    sp_, t, gen_evm.export_path(self.inputs, t, ds)))
            loads[t] = df
            cached.append(df)

        def enrich_to(table, fn, *args, extra=None):
            with tr.span(fn.__name__, "enrich") as sp:
                out, n = _materialise(fn(*args))
                tr.count(sp, rows_out=n)
            cached.append(out)
            self._sink(tr, table, out, ds, extra)

        b = loads["blocks"]
        buckets = ["address_hash", "selector_hash"]
        enrich_to("blocks", enrich.enrich_blocks, b)
        enrich_to("transactions", enrich.enrich_transactions,
                  loads["transactions"], b, loads["receipts"])
        enrich_to("logs", enrich.enrich_logs, loads["logs"], b, extra=buckets)
        enrich_to("traces", enrich.enrich_traces, loads["traces"], b,
                  extra=buckets)
        enrich_to("contracts", enrich.enrich_contracts, loads["contracts"], b)
        enrich_to("token_transfers", enrich.enrich_token_transfers,
                  loads["token_transfers"], b)
        enrich_to("prices", enrich.enrich_prices, loads["prices"])
        with tr.span("append_dedup:tokens", "sinks"):
            sinks.append_dedup(loads["tokens"], "", path=self._wh("tokens"))
        with tr.span("extract_token_transfers", "decode"):
            df, _ = _materialise(extract_token_transfers(loads["logs"]))
            cached.append(df)
        wh = {t: sp_.read.parquet(self._wh(t))
              for t in ("blocks", "transactions", "logs", "traces")}
        with tr.span("verify", "verify"):
            out = {
                t: verify.verify_have_latest(wh[t], ds, t)
                for t in ("blocks", "transactions", "logs", "traces")
            }
            out["root_traces"] = verify.verify_root_traces_match_transactions(
                wh["traces"], wh["transactions"], ds)
        for df in cached:
            df.unpersist()
        return out

    def check(self):
        rep = Report(ops=self.n_ops())
        counts = {
            t: count_rows(os.path.join(self._wh(t), f"dt={self.DS}"))
            for t in gen_evm.WAREHOUSE_TABLES if t != "tokens"
        }
        staged = {a for d in self.manifest["days"] for a in d["staged_tokens"]}
        per_table = checks.check_table_counts(
            counts, self.day, count_rows(self._wh("tokens")), len(staged))
        for t, fails in per_table.items():
            rep.add(f"enrich_{t}", fails)
        rep.add("verify", checks.check_verify(self.verify_result, self.day))
        tab = read_day(self._wh("evt_Transfer"), self.DS)
        rows = list(zip(*(tab.column(c).to_pylist() for c in (
            "evt_tx_hash", "evt_index", "contract_address", "from", "to",
            "value"))))
        fails, found = checks.check_transfers(rows, self.day["transfers"])
        rep.add("parse_evt_Transfer", fails)
        total = len(self.day["transfers"])
        elements = {
            gen_abi.table_name(c, el): (el, c["contract_address"])
            for c in self.manifest["registry"] for el in c["abi"]
        }
        for table, want in self.day["abi_planted"].items():
            el, addr = elements[table]
            total += len(want)
            src = os.path.join(self._wh(table), f"dt={self.DS}")
            if not os.path.isdir(src):
                rep.add(f"parse_{table}", [f"{table}: no decoded partition"])
                continue
            got = read_day(self._wh(table), self.DS).to_pylist()
            fails, matched = checks.check_decoded(table, el, addr, got, want)
            rep.add(f"parse_{table}", fails)
            found += matched
            rep.add(f"transfer_{table}", checks.check_transfer_count(
                table, len(got), self.copied.get(table, -1),
                count_rows(os.path.join(self.client, table, f"dt={self.DS}"))))
        rep.recall = found / total
        return rep


# ---------------------------------------------------------------------------
# llm_curation
# ---------------------------------------------------------------------------

class LlmCuration(Workload):
    """Quality gate → exact dedup → MinHash pairs → clusters → centroid
    training + SemDeDup → sequence packing, each stage written to
    parquet and read back by the next. There is no warm-up: the measured
    iteration is the first curation pass of the process, as in a batch
    curation job, which is a fresh Spark application every time."""

    name = "llm_curation"
    SIZE = {"n_docs": 6000, "dim": 32}
    N_CENTROIDS = 8
    STAGES = ("quality_logit", "exact_dedup_groups", "minhash_dedup_pairs",
              "duplicate_clusters", "train_centroids", "semantic_dedup",
              "pack_sequences")

    @staticmethod
    def generate(base, seed):
        return gen_corpus.generate(base, seed, **LlmCuration.SIZE)

    def __init__(self, *a):
        super().__init__(*a)
        self.out = os.path.join(self.work, "curation")

    def _o(self, name: str) -> str:
        return os.path.join(self.out, name)

    def _write(self, df, name: str) -> None:
        df.write.mode("overwrite").parquet(self._o(name))

    def _read(self, name: str):
        return self.spark.read.parquet(self._o(name))

    def reset(self):
        shutil.rmtree(self.out, ignore_errors=True)

    def run(self, tr):
        # imported here, so evm_day's set-up does not pay ~0.4 s for them
        from datawaves_etl_airflow_spark.operators import (
            dedup,
            sampling,
            similarity,
            text,
        )

        sp_ = self.spark
        docs = sp_.read.parquet(os.path.join(self.inputs, "corpus.parquet"))
        emb = sp_.read.parquet(os.path.join(self.inputs, "embeddings.parquet"))
        with tr.span("quality_logit", "text"):
            self._write(text.quality_logit(docs, keep_cols=("text",)),
                        "quality")
        gated = self._read("quality").filter(F.col("keep") == 1).select(
            "doc_id", "text")
        with tr.span("exact_dedup_groups", "dedup.exact"):
            self._write(dedup.exact_dedup_groups(gated), "exact")
        uniq = gated.join(
            self._read("exact").select(F.col("keep_id").alias("doc_id")),
            "doc_id", "left_semi")
        with tr.span("minhash_dedup_pairs", "dedup.minhash"):
            self._write(dedup.minhash_dedup_pairs(
                uniq, threshold=checks.MINHASH_THRESHOLD), "pairs")
        with tr.span("duplicate_clusters", "dedup.clusters"):
            self._write(dedup.duplicate_clusters(self._read("pairs")),
                        "clusters")
        dropped = self._read("clusters").filter(
            F.col("id") != F.col("cluster_id")).select(
            F.col("id").alias("doc_id"))
        survivors = uniq.join(dropped, "doc_id", "left_anti")
        vecs = emb.join(survivors.select("doc_id"), "doc_id", "left_semi")
        kw = {"vec_col": "embedding", "id_col": "doc_id"}
        with tr.span("train_centroids", "similarity.train"):
            self._write(similarity.train_centroids(
                vecs, self.N_CENTROIDS, **kw), "centroids")
        with tr.span("semantic_dedup", "similarity.semdedup"):
            self._write(similarity.semantic_dedup(
                vecs, self.N_CENTROIDS, threshold=checks.SEM_THRESHOLD,
                centroids=self._read("centroids"), **kw), "semdedup")
        final = survivors.join(
            self._read("semdedup").filter(F.col("kept")).select("doc_id"),
            "doc_id", "left_semi")
        with tr.span("write_curated", "sinks") as sp:
            self._write(final, "curated")
        if tr.enabled:
            tr.count(sp, **dir_stats(self._o("curated")))
        with tr.span("pack_sequences", "sampling"):
            self._write(sampling.pack_sequences(
                self._read("curated"), checks.PACK_BUDGET,
                F.pmod(F.xxhash64("doc_id"), F.lit(8))), "packed")
        if tr.enabled:
            with tr.span("lsh_candidates", "probe") as sp:
                tr.count(sp, candidates=self._candidates(uniq))

    def _candidates(self, uniq) -> int:
        """LSH candidate pairs of the MinHash stage, recounted with the
        operator's public building blocks at its default parameters
        (64 hashes, 16 bands, 3-word shingles)."""
        from datawaves_etl_airflow_spark.operators import dedup

        bands = dedup.minhash_band_rows_np(
            dedup.word_shingle_hash_sets(uniq), 64, 16)
        return dedup.bucket_pairs(
            bands, ["band_id", "band_hash"], ["id"], allow_unbounded=True,
        ).distinct().count()

    def _t(self, name: str):
        return pq.read_table(self._o(name))

    def n_ops(self):
        return len(self.STAGES)

    def check(self):
        m = self.manifest
        rep = Report(ops=self.n_ops())
        corpus = pq.read_table(os.path.join(self.inputs, "corpus.parquet"))
        texts = dict(zip(corpus.column("doc_id").to_pylist(),
                         corpus.column("text").to_pylist()))
        q = self._t("quality")
        gated = {i for i, k in zip(q.column("doc_id").to_pylist(),
                                   q.column("keep").to_pylist()) if k == 1}
        rep.add("quality_logit", checks.check_gate(gated, m))
        keep_ids = self._t("exact").column("keep_id").to_pylist()
        uniq = set(keep_ids) & gated
        rep.add("exact_dedup_groups",
                checks.check_exact(uniq, keep_ids, gated, texts, m))
        pt = self._t("pairs")
        pairs = list(zip(pt.column("id_a").to_pylist(),
                         pt.column("id_b").to_pylist()))
        rep.add("minhash_dedup_pairs",
                checks.check_minhash_pairs(pairs, texts))
        ct = self._t("clusters")
        clusters = dict(zip(ct.column("id").to_pylist(),
                            ct.column("cluster_id").to_pylist()))
        rep.add("duplicate_clusters", checks.check_clusters(clusters, pairs))
        cents = np.array(self._t("centroids").column("centroid").to_pylist())
        rep.add("train_centroids",
                checks.check_centroids(cents, self.N_CENTROIDS))
        et = pq.read_table(os.path.join(self.inputs, "embeddings.parquet"))
        vecs = dict(zip(et.column("doc_id").to_pylist(),
                        et.column("embedding").to_numpy(zero_copy_only=False)))
        st = self._t("semdedup")
        decisions = list(zip(st.column("doc_id").to_pylist(),
                             st.column("sem_cluster_id").to_pylist(),
                             st.column("kept").to_pylist()))
        rep.add("semantic_dedup", checks.check_semdedup(decisions, vecs))
        final = set(self._t("curated").column("doc_id").to_pylist())
        pk = self._t("packed")
        rows = list(zip(*(pk.column(c).to_pylist() for c in (
            "doc_id", "shard", "n_tokens", "offset", "seq_start", "seq_end"))))
        rep.add("pack_sequences", checks.check_pack(
            rows, {i: texts[i] for i in final}))
        rep.recall = checks.planted_recall(final, m)
        rep.counts = {
            "docs_in": len(texts), "docs_kept": len(gated),
            "verified_pairs": len(pairs), "vectors": len(decisions),
            "dropped": sum(not k for *_x, k in decisions),
            "sequences": _sequences(rows, checks.PACK_BUDGET),
        }
        return rep


def _sequences(rows, budget: int) -> int:
    tokens: dict[int, int] = {}
    for _i, shard, n, *_r in rows:
        tokens[shard] = tokens.get(shard, 0) + n
    return sum(-(-t // budget) for t in tokens.values())


WORKLOADS = {w.name: w for w in (EvmDay, LlmCuration)}
