"""Self-tests of the benchmark (not of the program).

    python3 -m pytest perfbench -q -p no:cacheprovider

Generators are deterministic per seed, every output check fails on a
mutated output, and the printed metric names match ``BENCHMARK.json``.
Only ``test_known_defect_parse_reads_every_day`` starts Spark.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import gen_abi  # noqa: E402
import gen_corpus  # noqa: E402
import gen_evm  # noqa: E402

EVM_TINY = {"n_blocks": 6, "tx_per_block": 4, "n_history": 1,
            "hist_blocks": 3, "n_contracts": 2, "abi_rows": 8}


def tree_digest(base: str) -> str:
    h = hashlib.sha256()
    for root, dirs, names in sorted(os.walk(base)):
        dirs.sort()
        for n in sorted(names):
            p = os.path.join(root, n)
            h.update(os.path.relpath(p, base).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# generator determinism
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("gen,kw", [
    (gen_evm.generate, EVM_TINY),
    (gen_corpus.generate, {"n_docs": 200, "n_exact": 5, "n_near": 5,
                           "n_sem": 5, "n_low": 10}),
])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, gen, kw):
    digests = []
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen(str(tmp_path / name), seed, **kw)
        digests.append(tree_digest(str(tmp_path / name)))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_event_ids_and_selectors_are_the_keccak_of_their_signatures():
    from datawaves_etl_airflow_spark.schemas.abi import AbiElement

    for abi, h in gen_abi.EVENTS:
        assert AbiElement.from_dict(abi).event_topic0() == h
    for abi, h in gen_abi.FUNCTIONS:
        assert AbiElement.from_dict(abi).function_selector() == h
    assert (AbiElement.from_dict(gen_evm.TRANSFER_ABI).event_topic0()
            == gen_evm.TRANSFER_TOPIC0)


def test_encoder_head_tail_layout():
    data = gen_abi.encode(["uint256", "string", "address[]"],
                          [5, "ab", ["0x" + "11" * 20]])
    words = [data[i:i + 32] for i in range(0, len(data), 32)]
    assert int.from_bytes(words[0], "big") == 5
    assert int.from_bytes(words[1], "big") == 96  # offset of "ab"
    assert int.from_bytes(words[2], "big") == 160  # offset of the array
    assert int.from_bytes(words[3], "big") == 2 and words[4][:2] == b"ab"
    assert int.from_bytes(words[5], "big") == 1
    assert words[6] == bytes(12) + b"\x11" * 20
    assert gen_abi.enc_word("int256", -1) == b"\xff" * 32


# ---------------------------------------------------------------------------
# evm_day checks fail on mutated outputs
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def evm_manifest(tmp_path_factory):
    base = str(tmp_path_factory.mktemp("evm"))
    return gen_evm.generate(base, 3, **EVM_TINY)


def test_transfer_check_catches_dropped_and_flipped_rows(evm_manifest):
    planted = evm_manifest["days"][-1]["transfers"]
    rows = [tuple(r) for r in planted]
    assert checks.check_transfers(rows, planted) == ([], len(planted))
    fails, found = checks.check_transfers(rows[1:], planted)
    assert fails and found == len(planted) - 1
    flipped = list(rows)
    t = flipped[0]
    flipped[0] = (*t[:5], (t[5] or 0) + 1)
    assert checks.check_transfers(flipped, planted)[0]


def test_table_count_and_verify_checks_catch_wrong_counts(evm_manifest):
    day = evm_manifest["days"][-1]
    counts = {t: day["counts"][t] for t in gen_evm.WAREHOUSE_TABLES
              if t != "tokens"}
    ok = checks.check_table_counts(counts, day, 5, 5)
    assert not any(ok.values())
    counts["logs"] -= 1
    bad = checks.check_table_counts(counts, day, 5, 6)
    assert bad["logs"] and bad["tokens"] and not bad["blocks"]
    c = day["counts"]
    result = {"blocks": c["blocks"], "transactions": c["transactions"],
              "logs": c["logs"], "traces": c["traces"],
              "root_traces": day["root_traces"]}
    assert checks.check_verify(result, day) == []
    assert checks.check_verify(dict(result, traces=0), day)


def _decoded_rows(contract, element, planted):
    """What a correct decode writes for the planted rows."""
    is_event = element["type"] == "event"
    params = element["inputs"] + element.get("outputs", [])
    rows = []
    for p in planted:
        r = {i["name"]: gen_abi.expected(i["type"], p["values"][i["name"]])
             for i in params}
        r["contract_address"] = contract["contract_address"]
        if is_event:
            r["evt_tx_hash"], r["evt_index"] = p["key"]
        else:
            r["call_tx_hash"], r["call_trace_address"] = p["key"]
            r["call_success"] = p["success"]
        rows.append(r)
    return rows


def test_decoded_table_check_catches_dropped_and_flipped_values(evm_manifest):
    day = evm_manifest["days"][-1]
    for c in evm_manifest["registry"]:
        for el in c["abi"]:
            table = gen_abi.table_name(c, el)
            want = day["abi_planted"][table]
            rows = _decoded_rows(c, el, want)
            addr = c["contract_address"]
            assert checks.check_decoded(table, el, addr, rows, want) == (
                [], len(want))
            assert checks.check_decoded(table, el, addr, rows[1:], want)[0]
            flipped = copy.deepcopy(rows)
            name = el["inputs"][-1]["name"]
            v = flipped[0][name]
            flipped[0][name] = (not v if isinstance(v, bool) else
                                None if v is not None else 1)
            fails, matched = checks.check_decoded(table, el, addr, flipped,
                                                  want)
            assert fails and matched == len(want) - 1
    assert checks.check_transfer_count("t", 10, 10, 10) == []
    assert checks.check_transfer_count("t", 10, 10, 9)
    assert checks.check_transfer_count("t", 10, 9, 10)


# ---------------------------------------------------------------------------
# llm_curation checks fail on mutated outputs
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    import pyarrow.parquet as pq

    base = str(tmp_path_factory.mktemp("corpus"))
    m = gen_corpus.generate(base, 5, n_docs=300, n_exact=6, n_near=6,
                            n_sem=6, n_low=12)
    t = pq.read_table(os.path.join(base, "corpus.parquet"))
    texts = dict(zip(t.column("doc_id").to_pylist(),
                     t.column("text").to_pylist()))
    e = pq.read_table(os.path.join(base, "embeddings.parquet"))
    vecs = dict(zip(e.column("doc_id").to_pylist(),
                    e.column("embedding").to_numpy(zero_copy_only=False)))
    return m, texts, vecs


def test_gate_check_catches_kept_spam_and_dropped_prose(corpus):
    m, texts, _ = corpus
    good = set(texts) - set(m["low_quality"])
    assert checks.check_gate(good, m) == []
    assert checks.check_gate(good | {m["low_quality"][0]}, m)
    assert checks.check_gate(good - {m["near_groups"][0][0]}, m)


def test_exact_check_catches_a_missed_duplicate(corpus):
    m, texts, _ = corpus
    norm = {}
    for i in texts:
        norm.setdefault(" ".join(texts[i].lower().split()), []).append(i)
    keep = [min(v) for v in norm.values()]
    gated = set(texts)
    assert checks.check_exact(set(keep), keep, gated, texts, m) == []
    g = m["exact_groups"][0]
    extra = sorted(g)[1]
    assert checks.check_exact(set(keep) | {extra}, keep + [extra], gated,
                              texts, m)


def test_minhash_and_cluster_checks_catch_bad_pairs(corpus):
    m, texts, _ = corpus
    pairs = [(g[0], b) if g[0] < b else (b, g[0])
             for g in m["near_groups"] for b in g[1:]]
    assert checks.check_minhash_pairs(pairs, texts) == []
    a, b = m["near_groups"][0][0], m["near_groups"][1][0]
    assert checks.check_minhash_pairs([(min(a, b), max(a, b))], texts)
    clusters = {}
    for g in m["near_groups"]:
        for i in g:
            clusters[i] = min(g)
    assert checks.check_clusters(clusters, pairs) == []
    g = m["near_groups"][0]
    wrong = {**clusters, max(g): max(g)}
    assert checks.check_clusters(wrong, pairs)


def test_semdedup_check_catches_unjustified_drop_and_missed_dup(corpus):
    m, _, vecs = corpus
    decisions = []
    for g in m["sem_groups"]:
        decisions += [(i, min(g), i == min(g)) for i in g]
    assert checks.check_semdedup(decisions, vecs) == []
    # an unrelated vector dropped into a group: cosine far below 0.9
    grp = min(m["sem_groups"][0])
    bad = decisions + [(10**6, grp, False)]
    assert checks.check_semdedup(bad, {**vecs, 10**6: -vecs[grp]})
    missed = [(i, c, True) for i, c, _k in decisions]
    assert checks.check_semdedup(missed, vecs)


def test_pack_check_and_recall_catch_mistakes(corpus):
    m, texts, _ = corpus
    final = {i: t for i, t in texts.items() if i % 3 == 0}
    rows, off = [], {}
    for i in sorted(final):
        n = len(final[i].split())
        s = i % 4
        o = off.get(s, 0)
        rows.append((i, s, n, o, o // 512, (o + n - 1) // 512))
        off[s] = o + n
    assert checks.check_pack(rows, final) == []
    r = rows[3]
    shifted = rows[:3] + [(r[0], r[1], r[2], r[3] + 1, r[4], r[5])] + rows[4:]
    assert checks.check_pack(shifted, final)
    assert checks.check_pack(rows[1:], final)
    survivors = {min(g) for k in ("exact_groups", "near_groups", "sem_groups")
                 for g in m[k]}
    assert checks.planted_recall(survivors, m) == 1.0
    missed = survivors | {max(m["near_groups"][0])}
    assert checks.planted_recall(missed, m) < 1.0


# ---------------------------------------------------------------------------
# metric names
# ---------------------------------------------------------------------------

def test_printed_metric_names_match_benchmark_json():
    import layers
    import run
    from spans import Tracer
    from workloads import WORKLOADS, Report

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = run.end_to_end_metrics(1.0, 1.0, 1.0, 1.0)
    assert [(k, u) for k, (_v, u) in e2e.items()] == [
        (m["name"], m["unit"]) for m in bench["end_to_end"]]
    tr = Tracer(spark=None, run_id="t")
    per_layer = layers.compute(tr, Report(ops=1), cores=4)
    per_layer.update(run.trace_overhead_metrics(2.0, 1.0))
    assert [(k, u) for k, (_v, u) in per_layer.items()] == [
        (m["name"], m["unit"]) for m in bench["per_layer"]]
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


# ---------------------------------------------------------------------------
# clean exit
# ---------------------------------------------------------------------------

def test_stop_engine_ends_every_descendant():
    import subprocess

    import run

    # a child that ignores SIGTERM and has a child of its own
    proc = subprocess.Popen(
        ["sh", "-c", "trap '' TERM; sleep 60 & sleep 60; wait"])
    try:
        deadline = time.monotonic() + 5
        while len(run.descendants()) < 3 and time.monotonic() < deadline:
            time.sleep(0.02)
        assert len(run.descendants()) >= 3
        run.stop_engine(None, grace=0.2)
        assert run.descendants(include_zombies=True) == []
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# known program defect, kept visible
# ---------------------------------------------------------------------------

@pytest.mark.xfail(strict=True, reason=(
    "run_evm_day's parse task decodes the whole logs table, not the day: "
    "with earlier days in the warehouse, evt_<Event> for ds also holds "
    "every earlier day's events (restamped dt=ds)"))
def test_known_defect_parse_reads_every_day(tmp_path):
    os.environ["PYTHONPATH"] = ROOT
    from datawaves_etl_airflow_spark.pipeline.runner import run_evm_day
    from datawaves_etl_airflow_spark.schemas.abi import AbiElement
    from datawaves_etl_airflow_spark.session import get_spark

    m = gen_evm.generate(str(tmp_path / "in"), 1, **EVM_TINY)
    spark = get_spark("perfbench-defect", master="local[2]",
                      conf={"spark.ui.enabled": "false"})
    try:
        el = AbiElement.from_dict(gen_evm.TRANSFER_ABI)
        wh = str(tmp_path / "wh")
        for day in m["days"]:
            run_evm_day(spark, str(tmp_path / "in"), wh, day["ds"],
                        decode_events=[el])
        got = (spark.read.parquet(os.path.join(wh, "ethereum", "evt_Transfer"))
               .filter(f"dt = '{gen_evm.TARGET_DS}'").count())
    finally:
        import run

        run.stop_engine(spark)
    assert got == len(m["days"][-1]["transfers"])
