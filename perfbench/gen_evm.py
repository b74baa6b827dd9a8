"""Seeded EVM staging-day generator (exporter layout) with a ground-truth
manifest.

One day is written as ``export/{chain}/{table}/block_date={ds}/{table}.{fmt}``
for the nine ethereum staging tables (line-delimited JSON, prices as CSV
with a header), exactly the layout ``pipeline.runner.run_evm_day`` reads.
Contract addresses of logs (and so ERC-20 Transfer tokens) follow a Zipf
law, so a few hot contracts dominate their ``address_hash`` buckets. The
events and calls of the registry contracts (``gen_abi``) are planted among
the day's logs and traces.

Only numpy and the standard library are used; the program under test sees
the written files and nothing else. The same (seed, sizes) always gives
the same bytes.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np

import gen_abi

CHAIN = "ethereum"
TARGET_DS = "2024-01-15"
EPOCH_DS = dt.date(2024, 1, 1)

#: keccak256("Transfer(address,address,uint256)") — the ERC-20 event id
TRANSFER_TOPIC0 = (
    "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
)
#: keccak256("transfer(address,uint256)")[:4]
TRANSFER_FN = "0xa9059cbb"
TRANSFER_ABI = {
    "name": "Transfer",
    "type": "event",
    "anonymous": False,
    "inputs": [
        {"name": "from", "type": "address", "indexed": True},
        {"name": "to", "type": "address", "indexed": True},
        {"name": "value", "type": "uint256", "indexed": False},
    ],
}

TABLES = (
    "blocks", "transactions", "receipts", "logs", "traces", "contracts",
    "token_transfers", "tokens", "prices",
)
#: what the day leaves in the warehouse (receipts join into transactions)
WAREHOUSE_TABLES = tuple(t for t in TABLES if t != "receipts")


def day_rng(seed: int, ds: str) -> np.random.Generator:
    """Independent stream per (seed, day)."""
    day = (dt.date.fromisoformat(ds) - EPOCH_DS).days
    return np.random.default_rng([int(seed), day, 0])


def hexes(rng: np.random.Generator, n: int, nbytes: int) -> list[str]:
    """``n`` random ``0x``-prefixed lowercase hex strings of ``nbytes``."""
    raw = rng.bytes(n * nbytes).hex()
    w = 2 * nbytes
    return ["0x" + raw[i * w:(i + 1) * w] for i in range(n)]


def zipf_pick(rng: np.random.Generator, k: int, n: int, s: float) -> np.ndarray:
    """``n`` draws from ``range(k)`` with P(i) proportional to 1/(i+1)^s."""
    p = 1.0 / np.arange(1, k + 1) ** s
    return rng.choice(k, size=n, p=p / p.sum())


def word_addr(addr: str) -> str:
    return "0x" + "0" * 24 + addr[2:]


def word_uint(v: int) -> str:
    return "0x" + format(int(v), "064x")


def _j(v) -> str:
    """JSON scalar: ``None`` → null, str quoted, bool lowercase."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return '"' + v + '"'
    return str(v)


def _line(d: dict) -> str:
    return "{" + ",".join(f'"{k}":{_j(v)}' for k, v in d.items()) + "}"


def export_path(base: str, table: str, ds: str) -> str:
    fmt = "csv" if table == "prices" else "json"
    return os.path.join(
        base, "export", CHAIN, table, f"block_date={ds}", f"{table}.{fmt}"
    )


def contract_pools(seed: int, n_tokens: int, n_contracts: int) -> dict:
    """Address pools shared by every day of one seed: ERC-20 tokens (the
    Zipf-hot Transfer emitters), other contracts and user accounts."""
    rng = np.random.default_rng([int(seed), 7])
    return {
        "tokens": hexes(rng, n_tokens, 20),
        "contracts": hexes(rng, n_contracts, 20),
        "accounts": hexes(rng, 4 * n_contracts + 64, 20),
    }


def write_day(
    base: str,
    seed: int,
    ds: str,
    day_index: int,
    n_blocks: int,
    tx_per_block: int,
    pools: dict,
    registry: list[dict],
    abi_rows: int,
    zipf_s: float = 1.2,
) -> dict:
    """Write one staging day; returns its manifest (row counts per
    table, the planted Transfer rows, the planted rows of every registry
    contract's events and calls, and the staged token addresses)."""
    rng = day_rng(seed, ds)
    tokens, contracts, accounts = (
        pools["tokens"], pools["contracts"], pools["accounts"],
    )
    day_t0 = int(
        dt.datetime.combine(
            dt.date.fromisoformat(ds), dt.time(), dt.timezone.utc
        ).timestamp()
    )
    first_block = 18_000_000 + day_index * 100_000

    # ---- blocks ---------------------------------------------------------
    ntx = rng.integers(tx_per_block // 2, tx_per_block * 3 // 2 + 1, n_blocks)
    bhash = hexes(rng, n_blocks, 32)
    blocks = []
    for i in range(n_blocks):
        n = first_block + i
        blocks.append(_line({
            "number": n,
            "hash": bhash[i],
            "parent_hash": bhash[i - 1] if i else "0x" + "0" * 64,
            "nonce": "0x" + format(n, "016x"),
            "sha3_uncles": "0x" + "1d" * 32,
            "logs_bloom": "0x" + "00" * 32,
            "transactions_root": bhash[(i + 1) % n_blocks],
            "state_root": bhash[(i + 2) % n_blocks],
            "receipts_root": bhash[(i + 3) % n_blocks],
            "miner": accounts[i % len(accounts)],
            "difficulty": 0,
            "total_difficulty": 58750003716598352816469 + n,
            "size": int(ntx[i]) * 180 + 600,
            "extra_data": "0x6265617665726275696c642e6f7267",
            "gas_limit": 30_000_000,
            "gas_used": int(ntx[i]) * 61_000,
            "timestamp": day_t0 + (i * 86_000) // n_blocks,
            "transaction_count": int(ntx[i]),
            "base_fee_per_gas": 10**9 + n % 10**8,
        }))

    # ---- transactions + receipts + traces (root per tx) -----------------
    n_tx = int(ntx.sum())
    tx_block = np.repeat(np.arange(n_blocks), ntx)
    tx_index = np.concatenate([np.arange(k) for k in ntx]) if n_tx else []
    txh = hexes(rng, n_tx, 32)
    from_i = rng.integers(0, len(accounts), n_tx)
    to_i = rng.integers(0, len(accounts), n_tx)
    is_call = rng.random(n_tx) < 0.4
    call_tok = zipf_pick(rng, len(tokens), n_tx, zipf_s)
    vals = rng.integers(0, 10**15, n_tx)
    gas = rng.integers(21_000, 500_000, n_tx)
    status = (rng.random(n_tx) > 0.03).astype(int)
    txs, receipts, traces = [], [], []
    for i in range(n_tx):
        bi = int(tx_block[i])
        bn = first_block + bi
        frm = accounts[from_i[i]]
        if is_call[i]:
            to = tokens[call_tok[i]]
            inp = (TRANSFER_FN + word_addr(accounts[to_i[i]])[2:]
                   + word_uint(int(vals[i]) + 1)[2:])
            out = word_uint(1)
        else:
            to = accounts[to_i[i]]
            inp, out = "0x", "0x"
        txs.append(_line({
            "hash": txh[i],
            "nonce": i,
            "block_hash": bhash[bi],
            "block_number": bn,
            "transaction_index": int(tx_index[i]),
            "from_address": frm,
            "to_address": to,
            "value": 0 if is_call[i] else int(vals[i]),
            "gas": int(gas[i]),
            "gas_price": 2 * 10**10,
            "input": inp,
            "max_fee_per_gas": 3 * 10**10,
            "max_priority_fee_per_gas": 10**9,
            "transaction_type": 2,
        }))
        receipts.append(_line({
            "transaction_hash": txh[i],
            "transaction_index": int(tx_index[i]),
            "block_hash": bhash[bi],
            "block_number": bn,
            "cumulative_gas_used": int(gas[i]) * (int(tx_index[i]) + 1),
            "gas_used": int(gas[i]) - 1000,
            "contract_address": None,
            "root": None,
            "status": int(status[i]),
            "effective_gas_price": 2 * 10**10,
        }))
        traces.append(_line({
            "block_number": bn,
            "transaction_hash": txh[i],
            "transaction_index": int(tx_index[i]),
            "from_address": frm,
            "to_address": to,
            "value": 0 if is_call[i] else int(vals[i]),
            "input": inp,
            "output": out,
            "trace_type": "call",
            "call_type": "call",
            "reward_type": None,
            "gas": int(gas[i]),
            "gas_used": int(gas[i]) - 1000,
            "subtraces": 1 if i % 2 else 0,
            "trace_address": "[]",
            "error": None,
            "status": int(status[i]),
            "trace_id": f"call_{txh[i]}_",
        }))
    # one sub-call under every other transaction
    for i in range(1, n_tx, 2):
        bn = first_block + int(tx_block[i])
        to = contracts[int(call_tok[i]) % len(contracts)]
        traces.append(_line({
            "block_number": bn,
            "transaction_hash": txh[i],
            "transaction_index": int(tx_index[i]),
            "from_address": accounts[to_i[i]],
            "to_address": to,
            "value": 0,
            "input": "0x70a08231" + word_addr(accounts[from_i[i]])[2:],
            "output": word_uint(int(vals[i])),
            "trace_type": "call",
            "call_type": "staticcall",
            "reward_type": None,
            "gas": 30_000,
            "gas_used": 2_600,
            "subtraces": 0,
            "trace_address": "[0]",
            "error": None,
            "status": 1,
            "trace_id": f"call_{txh[i]}_0",
        }))

    # ---- logs: ERC-20 Transfers (Zipf tokens) + other events ------------
    n_tr = rng.integers(0, 3, n_tx)  # 0..2 Transfers per tx
    n_other = rng.integers(0, 3, n_tx)
    tot_tr = int(n_tr.sum())
    tr_tok = zipf_pick(rng, len(tokens), tot_tr, zipf_s)
    tr_from = rng.integers(0, len(accounts), tot_tr)
    tr_to = rng.integers(0, len(accounts), tot_tr)
    tr_val = rng.integers(1, 2**62, tot_tr).astype(object) * rng.integers(
        1, 2**40, tot_tr
    ).astype(object)
    tot_ot = int(n_other.sum())
    ot_addr = zipf_pick(rng, len(contracts), tot_ot, zipf_s)
    ot_ntop = rng.integers(1, 4, tot_ot)
    ot_topics = hexes(rng, 3 * tot_ot, 32)
    ot_data = hexes(rng, tot_ot, 64)
    logs, token_transfers, planted = [], [], []
    log_index_in_block = np.zeros(n_blocks, dtype=np.int64)
    kt = ko = 0
    for i in range(n_tx):
        bi = int(tx_block[i])
        common = {
            "transaction_hash": txh[i],
            "transaction_index": int(tx_index[i]),
            "block_hash": bhash[bi],
            "block_number": first_block + bi,
        }
        for _ in range(int(n_tr[i])):
            li = int(log_index_in_block[bi])
            log_index_in_block[bi] += 1
            tok = tokens[tr_tok[kt]]
            frm, to = accounts[tr_from[kt]], accounts[tr_to[kt]]
            v = int(tr_val[kt])
            topics = [TRANSFER_TOPIC0, word_addr(frm), word_addr(to)]
            # both multi-topic wire shapes the exporter emits
            tstr = (json.dumps(topics).replace('"', '\\"') if kt % 2
                    else ",".join(topics))
            logs.append(_line({
                "log_index": li, **common, "address": tok,
                "data": word_uint(v), "topics": tstr,
            }))
            token_transfers.append(_line({
                "token_address": tok, "from_address": frm, "to_address": to,
                "value": v, "transaction_hash": txh[i], "log_index": li,
                "block_number": first_block + bi,
            }))
            planted.append((txh[i], li, tok, frm, to, v))
            kt += 1
        for _ in range(int(n_other[i])):
            li = int(log_index_in_block[bi])
            log_index_in_block[bi] += 1
            nt = int(ot_ntop[ko])
            topics = ot_topics[3 * ko:3 * ko + nt]
            tstr = topics[0] if nt == 1 else ",".join(topics)
            logs.append(_line({
                "log_index": li, **common,
                "address": contracts[ot_addr[ko]],
                "data": ot_data[ko], "topics": tstr,
            }))
            ko += 1

    # ---- registry contracts: planted events and calls ------------------
    calls_in_tx: dict[int, int] = {}

    def new_log(address: str, topics: str, data: str) -> tuple[str, int]:
        i = int(rng.integers(n_tx))
        bi = int(tx_block[i])
        li = int(log_index_in_block[bi])
        log_index_in_block[bi] += 1
        logs.append(_line({
            "log_index": li, "transaction_hash": txh[i],
            "transaction_index": int(tx_index[i]), "block_hash": bhash[bi],
            "block_number": first_block + bi, "address": address,
            "data": data, "topics": topics,
        }))
        return txh[i], li

    def new_call(to: str, inp: str, out: str, st: int) -> tuple[str, str]:
        i = int(rng.integers(n_tx))
        k = calls_in_tx.get(i, 0)
        calls_in_tx[i] = k + 1
        path = f"[1,{k}]"
        traces.append(_line({
            "block_number": first_block + int(tx_block[i]),
            "transaction_hash": txh[i],
            "transaction_index": int(tx_index[i]),
            "from_address": accounts[from_i[i]], "to_address": to,
            "value": 0, "input": inp, "output": out, "trace_type": "call",
            "call_type": "call", "reward_type": None, "gas": 90_000,
            "gas_used": 40_000, "subtraces": 0, "trace_address": path,
            "error": None if st else "Reverted", "status": st,
            "trace_id": f"call_{txh[i]}_1_{k}",
        }))
        return txh[i], path

    abi_planted = gen_abi.plant(rng, registry, abi_rows, accounts,
                                new_log, new_call)
    # registry Transfer events are Transfer logs like any other
    for c in registry:
        for row in abi_planted[gen_abi.table_name(c, TRANSFER_ABI)]:
            v = row["values"]
            value = v["value"] if v["value"] < gen_abi.DEC38 else None
            planted.append((*row["key"], c["contract_address"], v["from"],
                            v["to"], value))

    # ---- contracts created today (create traces + contracts rows) -------
    n_new = max(1, n_blocks // 10)
    new_addr = hexes(rng, n_new, 20)
    contract_rows = []
    for k in range(n_new):
        i = (k * 7919) % n_tx
        bn = first_block + int(tx_block[i])
        sels = ["18160ddd", "70a08231", "a9059cbb", "23b872dd", "095ea7b3",
                "dd62ed3e"] if k % 2 else ["70a08231", "6352211e"]
        code = "0x6080" + "".join(f"63{s}14" for s in sels) + "fe" * 16
        traces.append(_line({
            "block_number": bn,
            "transaction_hash": txh[i],
            "transaction_index": int(tx_index[i]),
            "from_address": accounts[from_i[i]],
            "to_address": new_addr[k],
            "value": 0,
            "input": "0x60806040",
            "output": code,
            "trace_type": "create",
            "call_type": None,
            "reward_type": None,
            "gas": 900_000,
            "gas_used": 700_000,
            "subtraces": 0,
            "trace_address": f"[{k % 3 + 1}]",
            "error": None,
            "status": 1,
            "trace_id": f"create_{txh[i]}_{k % 3 + 1}",
        }))
        contract_rows.append(_line({
            "address": new_addr[k],
            "bytecode": code,
            "function_sighashes": ",".join("0x" + s for s in sorted(sels)),
            "is_erc20": bool(k % 2),
            "is_erc721": False,
            "block_number": bn,
        }))

    # ---- tokens: half already known (earlier days), half new today -----
    n_staged = max(2, len(tokens) // 4)
    start = (day_index * n_staged // 2) % len(tokens)
    staged = [tokens[(start + j) % len(tokens)] for j in range(n_staged)]
    token_rows = [
        _line({
            "address": a, "symbol": f"T{a[2:6].upper()}",
            "name": f"Token {a[2:8]}", "decimals": "18",
            "total_supply": str(10**24 + j),
            "block_number": first_block + j % n_blocks,
        })
        for j, a in enumerate(staged)
    ]

    # ---- prices: one row per minute for the eight hottest tokens --------
    price_rows = []
    for m in range(1440):
        ts = (dt.datetime.fromtimestamp(day_t0 + 60 * m, dt.timezone.utc)
              .strftime("%Y-%m-%d %H:%M:%S"))
        for k in range(min(8, len(tokens))):
            price_rows.append(
                f"{ts},{1.0 + k + (m % 97) / 1000:.6f},18,{tokens[k]},T{k},{ds}"
            )

    out = {
        "blocks": blocks, "transactions": txs, "receipts": receipts,
        "logs": logs, "traces": traces, "contracts": contract_rows,
        "token_transfers": token_transfers, "tokens": token_rows,
    }
    for table, rows in out.items():
        _write_lines(export_path(base, table, ds), rows)
    _write_lines(
        export_path(base, "prices", ds),
        ["minute,price,decimals,contract_address,symbol,dt", *price_rows],
    )
    counts = {t: len(r) for t, r in out.items()}
    counts["prices"] = len(price_rows)
    return {
        "ds": ds,
        "counts": counts,
        "root_traces": n_tx,
        "staged_tokens": staged,
        "transfers": planted,
        "abi_planted": abi_planted,
    }


def _write_lines(path: str, rows: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(rows))
        f.write("\n")


def history_days(n: int) -> list[str]:
    target = dt.date.fromisoformat(TARGET_DS)
    return [str(target - dt.timedelta(days=n - k)) for k in range(n)]


def generate(base: str, seed: int, n_blocks: int, tx_per_block: int,
             n_history: int, hist_blocks: int, n_contracts: int,
             abi_rows: int) -> dict:
    """History days (oldest first) plus the target day, and the contracts
    registry under ``abi/``. The manifest of every day goes to
    ``manifest.json``; the target day's planted rows are listed in full."""
    pools = contract_pools(seed, n_tokens=400, n_contracts=2000)
    contracts = gen_abi.registry(seed, n_contracts)
    gen_abi.write_registry(base, contracts)
    days = []
    for k, ds in enumerate(history_days(n_history)):
        day = write_day(base, seed, ds, k, hist_blocks, tx_per_block, pools,
                        contracts, abi_rows * hist_blocks // n_blocks)
        del day["transfers"], day["abi_planted"]
        days.append(day)
    days.append(write_day(base, seed, TARGET_DS, n_history, n_blocks,
                          tx_per_block, pools, contracts, abi_rows))
    manifest = {"seed": seed, "days": days, "transfer_abi": TRANSFER_ABI,
                "registry": contracts}
    with open(os.path.join(base, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
