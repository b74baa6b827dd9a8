"""Per-layer metrics from one traced iteration.

Every name listed in ``BENCHMARK.json``'s ``per_layer`` is returned for
every workload; a layer the workload does not call reports 0. Times are
self times (span duration minus child spans). ``busy_frac`` is executor
run time over (self time x cores). Spark counters come from the spans'
job groups; the ``probe`` span (LSH candidate recount) is excluded from
every layer and from ``session``.
"""

from __future__ import annotations


def compute(tr, report, cores: int) -> dict[str, tuple[float, str]]:
    spans = [s for s in tr.spans if s.layer not in ("run", "probe")]
    by_layer: dict[str, list] = {}
    for s in spans:
        by_layer.setdefault(s.layer, []).append(s)

    def sel(*layers):
        return [s for lay in layers for s in by_layer.get(lay, [])]

    def secs(ss):
        return sum(tr.self_time(s) for s in ss)

    def spark(ss, key):
        return sum(s.spark.get(key, 0) for s in ss)

    def cnt(ss, key):
        return sum(s.counts.get(key, 0) for s in ss)

    def busy(ss):
        t = secs(ss)
        return spark(ss, "executorRunTime") / 1000 / (t * cores) if t else 0.0

    def ratio(a, b):
        return a / b if b else 0.0

    src, enr, snk = sel("sources"), sel("enrich"), sel("sinks")
    ver, dec, reg, xfer = (sel("verify"), sel("decode"), sel("registry"),
                           sel("transfer"))
    # decode spans that read a warehouse table carry rows/ok/files_total
    dec_w = [s for s in dec if "files_total" in s.counts]
    probe = [s for s in tr.spans if s.layer == "probe"]
    c = report.counts
    cand = cnt(probe, "candidates")
    m = {
        "sources.read_s": (secs(src), "s"),
        "sources.rows": (spark(src, "inputRecords"), "count"),
        "sources.bytes": (spark(src, "inputBytes"), "B"),
        "sources.busy_frac": (busy(src), "fraction"),
        "enrich.s": (secs(enr), "s"),
        "enrich.rows_out": (cnt(enr, "rows_out"), "count"),
        "enrich.shuffle_bytes": (spark(enr, "shuffleWriteBytes"), "B"),
        "enrich.busy_frac": (busy(enr), "fraction"),
        "sinks.write_s": (secs(snk), "s"),
        "sinks.files": (cnt(snk, "files"), "count"),
        "sinks.bytes": (cnt(snk, "bytes"), "B"),
        "sinks.partition_dirs": (cnt(snk, "partition_dirs"), "count"),
        "sinks.busy_frac": (busy(snk), "fraction"),
        "verify.s": (secs(ver), "s"),
        "verify.spark_jobs": (spark(ver, "jobs"), "count"),
        "decode.s": (secs(dec), "s"),
        "decode.rows_scanned": (spark(dec_w, "inputRecords"), "count"),
        "decode.rows_decoded": (cnt(dec_w, "rows"), "count"),
        "decode.ok_ratio": (ratio(cnt(dec_w, "ok"), cnt(dec_w, "rows")),
                            "fraction"),
        "decode.files_scanned_ratio": (
            ratio(spark(dec_w, "files_read"), cnt(dec_w, "files_total")),
            "fraction"),
        "decode.spark_jobs": (spark(dec, "jobs"), "count"),
        "decode.busy_frac": (busy(dec), "fraction"),
        "registry.load_s": (secs(reg), "s"),
        "transfer.s": (secs(xfer), "s"),
        "transfer.rows": (cnt(xfer, "rows"), "count"),
        "transfer.bytes": (cnt(xfer, "bytes"), "B"),
        "text.s": (secs(sel("text")), "s"),
        "text.docs_in": (c.get("docs_in", 0), "count"),
        "text.docs_kept": (c.get("docs_kept", 0), "count"),
        "dedup.exact_s": (secs(sel("dedup.exact")), "s"),
        "dedup.minhash_s": (secs(sel("dedup.minhash")), "s"),
        "dedup.clusters_s": (secs(sel("dedup.clusters")), "s"),
        "dedup.candidate_pairs": (cand, "count"),
        "dedup.verified_pairs": (c.get("verified_pairs", 0), "count"),
        "dedup.pair_yield": (ratio(c.get("verified_pairs", 0), cand),
                             "fraction"),
        "similarity.train_s": (secs(sel("similarity.train")), "s"),
        "similarity.semdedup_s": (secs(sel("similarity.semdedup")), "s"),
        "similarity.vectors": (c.get("vectors", 0), "count"),
        "similarity.dropped": (c.get("dropped", 0), "count"),
        "sampling.pack_s": (secs(sel("sampling")), "s"),
        "sampling.sequences": (c.get("sequences", 0), "count"),
        "session.spark_jobs": (spark(spans, "jobs"), "count"),
        "session.spark_tasks": (spark(spans, "numTasks"), "count"),
        "session.gc_s": (spark(spans, "jvmGcTime") / 1000, "s"),
        "session.spill_bytes": (
            spark(spans, "memoryBytesSpilled") + spark(spans, "diskBytesSpilled"),
            "B"),
        "session.busy_frac": (busy(spans), "fraction"),
    }
    return m
