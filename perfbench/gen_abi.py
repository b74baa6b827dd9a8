"""Seeded ABI-parse inputs: a contracts registry and planted events and
calls (with their expected decoded rows) for the EVM day generator to
place among a day's logs and traces.

Planted values are encoded by this file's own ABI word encoder (head/tail
layout of the public Solidity ABI specification), independent of the
package's codec. Event ids and function selectors are fixed keccak
constants, checked against the package's signature hashing by the
self-tests.

Around the planted rows, the day's other traffic (ERC-20 Transfers of
unregistered tokens with the same event id, ``transfer`` calls with the
same selector, unrelated events) gives address and selector pruning
work to skip.
"""

from __future__ import annotations

import decimal
import json
import os

import numpy as np


#: (abi element, event topic0 / function selector); the hashes are
#: keccak256 of the canonical signatures
EVENTS = [
    ({"type": "event", "name": "Transfer", "anonymous": False, "inputs": [
        {"name": "from", "type": "address", "indexed": True},
        {"name": "to", "type": "address", "indexed": True},
        {"name": "value", "type": "uint256", "indexed": False}]},
     "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"),
    ({"type": "event", "name": "Swap", "anonymous": False, "inputs": [
        {"name": "sender", "type": "address", "indexed": True},
        {"name": "amount0", "type": "int256", "indexed": False},
        {"name": "amount1", "type": "int256", "indexed": False},
        {"name": "price", "type": "uint256", "indexed": False},
        {"name": "exactIn", "type": "bool", "indexed": False}]},
     "0x4fa346de90bf20ddfa910f7756e0b019137bd5c0ee85548008f11e16987f61c6"),
    ({"type": "event", "name": "Memo", "anonymous": False, "inputs": [
        {"name": "author", "type": "address", "indexed": True},
        {"name": "id", "type": "uint256", "indexed": True},
        {"name": "text", "type": "string", "indexed": False},
        {"name": "tag", "type": "bytes32", "indexed": False}]},
     "0x97bd13225a732d9ab6cd02406375140c775f7afb83e3780ac46a5b81d5c846dd"),
]
FUNCTIONS = [
    ({"type": "function", "name": "transfer", "inputs": [
        {"name": "to", "type": "address"},
        {"name": "amount", "type": "uint256"}],
      "outputs": [{"name": "ok", "type": "bool"}]},
     "0xa9059cbb"),
    ({"type": "function", "name": "swapExact", "inputs": [
        {"name": "amountIn", "type": "uint256"},
        {"name": "minOut", "type": "uint256"},
        {"name": "path", "type": "address[]"},
        {"name": "recipient", "type": "address"}],
      "outputs": [{"name": "amounts", "type": "uint256[]"}]},
     "0x4cc34df6"),
    ({"type": "function", "name": "configure", "inputs": [
        {"name": "key", "type": "bytes32"},
        {"name": "value", "type": "int256"},
        {"name": "enabled", "type": "bool"}],
      "outputs": [{"name": "previous", "type": "int256"}]},
     "0xe1a5b172"),
]

WORD = 32
DEC38 = 10**38

# ---------------------------------------------------------------------------
# the benchmark's own ABI encoder (static words + dynamic tails)
# ---------------------------------------------------------------------------


def enc_word(t: str, v) -> bytes:
    if t == "address":
        return bytes(12) + bytes.fromhex(v[2:])
    if t == "uint256":
        return int(v).to_bytes(WORD, "big")
    if t == "int256":
        return (int(v) % 2**256).to_bytes(WORD, "big")
    if t == "bool":
        return (1 if v else 0).to_bytes(WORD, "big")
    if t == "bytes32":
        return bytes.fromhex(v[2:])
    raise ValueError(f"not a word type: {t}")


def is_dynamic(t: str) -> bool:
    return t == "string" or t.endswith("[]")


def enc_tail(t: str, v) -> bytes:
    if t == "string":
        raw = v.encode()
        return len(raw).to_bytes(WORD, "big") + raw + bytes(-len(raw) % WORD)
    if t.endswith("[]"):
        return len(v).to_bytes(WORD, "big") + b"".join(
            enc_word(t[:-2], x) for x in v
        )
    raise ValueError(f"not a dynamic type: {t}")


def encode(types: list[str], values: list) -> bytes:
    heads, tails = [], []
    offset = WORD * len(types)
    for t, v in zip(types, values):
        if is_dynamic(t):
            heads.append(offset.to_bytes(WORD, "big"))
            tail = enc_tail(t, v)
            tails.append(tail)
            offset += len(tail)
        else:
            heads.append(enc_word(t, v))
    return b"".join(heads) + b"".join(tails)


def expected(t: str, v):
    """The decoded value the warehouse should hold (Decimal(38,0) with
    the >38-digit clamp to null, lowercase hex, str, lists)."""
    if t.endswith("[]"):
        return [expected(t[:-2], x) for x in v]
    if t in ("uint256", "int256"):
        return None if abs(int(v)) >= DEC38 else decimal.Decimal(int(v))
    return v


# ---------------------------------------------------------------------------
# value generators per type
# ---------------------------------------------------------------------------

_WORDS = ("alpha", "beta", "gamma", "delta", "mint", "burn", "route", "pool")


def rand_value(rng: np.random.Generator, t: str, accounts: list[str]):
    if t == "address":
        return accounts[int(rng.integers(len(accounts)))]
    if t == "uint256":
        # one value in 50 overflows Decimal(38,0): the clamp must null it
        if rng.random() < 0.02:
            return 10**40 + int(rng.integers(1, 10**9))
        return int(rng.integers(0, 2**62)) * int(rng.integers(1, 2**50))
    if t == "int256":
        return int(rng.integers(-(2**62), 2**62)) * int(rng.integers(1, 2**40))
    if t == "bool":
        return bool(rng.random() < 0.5)
    if t == "bytes32":
        return "0x" + rng.bytes(32).hex()
    if t == "string":
        n = int(rng.integers(0, 6))
        return " ".join(_WORDS[int(k)] for k in rng.integers(0, 8, n))
    if t.endswith("[]"):
        return [rand_value(rng, t[:-2], accounts)
                for _ in range(int(rng.integers(0, 4)))]
    raise ValueError(t)


def _topic(t: str, v) -> str:
    return "0x" + enc_word(t, v).hex()


def _topics_str(topics: list[str], k: int) -> str:
    if len(topics) == 1:
        return topics[0]
    if k % 2:
        return json.dumps(topics).replace('"', '\\"')
    return ",".join(topics)


def registry(seed: int, n_contracts: int) -> list[dict]:
    """Registry entries (``sources.registry`` JSON shape): every contract
    carries all events and functions above."""
    rng = np.random.default_rng([int(seed), 13])
    abi = [e for e, _ in EVENTS] + [f for f, _ in FUNCTIONS]
    return [
        {"dataset_name": f"proj{c % 2}", "contract_name": f"Pool{c}",
         "contract_address": "0x" + rng.bytes(20).hex(), "abi": abi}
        for c in range(n_contracts)
    ]


def write_registry(base: str, contracts: list[dict]) -> str:
    root = os.path.join(base, "abi")
    for c in contracts:
        path = os.path.join(root, c["dataset_name"],
                            f"{c['contract_name']}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(c, f)
    return root


def table_name(contract: dict, element: dict) -> str:
    """Decoded-table name, as ``schemas.abi.Contract.table_name``."""
    kind = "evt" if element["type"] == "event" else "call"
    return (f"{contract['dataset_name']}.{contract['contract_name']}"
            f"_{kind}_{element['name']}")


def plant(rng: np.random.Generator, contracts: list[dict], n_rows: int,
          accounts: list[str], new_log, new_call) -> dict:
    """Plant ``n_rows`` (Zipf-skewed over contracts) of every event and
    function of every contract. ``new_log(address, topics_str, data_hex)``
    returns the log's (tx_hash, log_index); ``new_call(to, input, output,
    status)`` returns the trace's (tx_hash, trace_address). Returns the
    planted rows keyed by decoded-table name."""
    planted = {}
    weight = 1.0 / np.arange(1, len(contracts) + 1) ** 0.8
    weight = weight / weight.mean()
    for c, contract in enumerate(contracts):
        addr = contract["contract_address"]
        n = max(5, int(n_rows * weight[c]))
        for ev, topic0 in EVENTS:
            rows = []
            for k in range(n):
                vals = {i["name"]: rand_value(rng, i["type"], accounts)
                        for i in ev["inputs"]}
                topics = [topic0] + [_topic(i["type"], vals[i["name"]])
                                     for i in ev["inputs"] if i["indexed"]]
                plain = [i for i in ev["inputs"] if not i["indexed"]]
                data = encode([i["type"] for i in plain],
                              [vals[i["name"]] for i in plain])
                txh, li = new_log(addr, _topics_str(topics, k),
                                  "0x" + data.hex())
                rows.append({"key": [txh, li], "values": vals})
            planted[table_name(contract, ev)] = rows
        for fn, sel in FUNCTIONS:
            rows = []
            for k in range(n):
                vals = {i["name"]: rand_value(rng, i["type"], accounts)
                        for i in fn["inputs"]}
                outs = {o["name"]: rand_value(rng, o["type"], accounts)
                        for o in fn["outputs"]}
                inp = sel + encode([i["type"] for i in fn["inputs"]],
                                   [vals[i["name"]] for i in fn["inputs"]]).hex()
                out = "0x" + encode([o["type"] for o in fn["outputs"]],
                                    [outs[o["name"]] for o in fn["outputs"]]).hex()
                status = 0 if k % 25 == 24 else 1
                txh, path = new_call(addr, inp, out, status)
                rows.append({"key": [txh, path], "values": {**vals, **outs},
                             "success": status == 1})
            planted[table_name(contract, fn)] = rows
    return planted
