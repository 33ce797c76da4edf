"""Seeded, Ethereum-shaped synthetic chain for the benchmark.

``SynthChain`` exposes the provider surface that ``sources.fetcher`` and
``plans.verify_plan`` call (the same surface as ``sources.mock_chain.MockChain``):
``head``, ``block``, ``block_hash``, ``block_json``, ``block_timestamp_ms``,
``tx_ids``, ``tx_details``, ``trace_json``, ``state_diff_json``,
plus ``fork_at`` and the block-JSON schema verify parses the tx list with.

Every value is a pure function of ``(seed, height[, tx index])``, so any
executor re-derives the same bytes. Per-height shape (tx count, calldata,
log count, trace and state-diff sizes) is drawn from a 64-bit mix of those
keys. Hex payload fields are cut from ONE seeded random buffer: building a
block costs a few string slices, and zstd sees high-entropy hex the way it
sees real JSON-RPC output (repeating one short slice would compress to an
unrealistic few KB per block).

Transaction ids encode their height and index (``0x<height:16><index:8><40
hex>``), so ``trace_json(txid)`` re-derives the trace without a lookup.
"""

from __future__ import annotations

import random
import time

from pyspark.sql import types as T

MASK64 = (1 << 64) - 1
BUF_BYTES = 1 << 20  # 1 MiB of seeded random bytes -> 2 MiB of hex
GENESIS_S = 1_600_000_000
BLOCK_TIME_S = 12

# txes per block, drawn uniformly per height. Mainnet blocks hold ~150; at
# that count one 1000-block archive alone takes ~25 s on 4 cores, too long
# for a run. The payload fields keep mainnet-like sizes.
TX_MIN, TX_MAX = 8, 32
FORK_SHARE = 0.02

BLOCK_JSON_SCHEMA = T.StructType(
    [T.StructField("transactions", T.ArrayType(T.StringType()), True)]
)


def mix(*keys: int) -> int:
    """splitmix64 over a key tuple: a cheap, process-independent hash."""
    z = 0x9E3779B97F4A7C15
    for k in keys:
        z = (z ^ (k & MASK64)) * 0xBF58476D1CE4E5B9 & MASK64
        z = (z ^ (z >> 27)) * 0x94D049BB133111EB & MASK64
        z ^= z >> 31
    return z


# field tags for ``mix`` so every draw is independent of the others
_NTX, _FORK, _HASH, _INPUT, _LOGS, _TRACE, _DIFF, _OFF = range(8)


class SynthChain:
    blockchain_type = "ETHEREUM"
    blockchain_id = "ETH"
    block_json_schema = BLOCK_JSON_SCHEMA
    tx_list_field = "transactions"

    def __init__(
        self,
        seed: int,
        head_height: int,
        fork_span: tuple[int, int] | None = None,
        rate_per_s: float | None = None,
    ):
        """``head_height`` is the head at ``start_clock()`` time; with
        ``rate_per_s`` the head then advances with wall-clock time.
        Fork twins sit at ~2% of the heights in ``fork_span``."""
        self.seed = seed
        self.head_height = head_height
        self.rate_per_s = rate_per_s
        self.t0: float | None = None
        lo, hi = fork_span if fork_span else (0, -1)
        self.fork_at = frozenset(
            h
            for h in range(lo, hi + 1)
            if mix(seed, _FORK, h) % 10_000 < FORK_SHARE * 10_000
        )
        self._hex: str | None = None
        self._raw: bytes | None = None

    # -- pickling: the buffer is re-derived on each executor ----------------
    def __getstate__(self):
        st = dict(self.__dict__)
        st["_hex"] = st["_raw"] = None
        return st

    def _buffers(self) -> tuple[str, bytes]:
        if self._raw is None:
            self._raw = random.Random(self.seed).randbytes(BUF_BYTES)
            self._hex = self._raw.hex()
        return self._hex, self._raw

    def _cut(self, key: int, n: int) -> str:
        hx, _ = self._buffers()
        return hx[key % (len(hx) - n) : key % (len(hx) - n) + n]

    # -- head ---------------------------------------------------------------
    def start_clock(self, now: float | None = None) -> None:
        self.t0 = time.time() if now is None else now

    def head(self) -> int:
        if self.rate_per_s is None or self.t0 is None:
            return self.head_height
        return self.head_height + int((time.time() - self.t0) * self.rate_per_s)

    def head_time(self, height: int) -> float:
        """Wall-clock moment ``height`` appears at the virtual head."""
        return self.t0 + (height - self.head_height) / self.rate_per_s

    # -- blocks ---------------------------------------------------------------
    def n_tx(self, height: int) -> int:
        return TX_MIN + mix(self.seed, _NTX, height) % (TX_MAX - TX_MIN + 1)

    def block_hash(self, height: int, fork: bool = False) -> str:
        return "%016x%016x%016x%016x" % tuple(
            mix(self.seed, _HASH, height, int(fork), i) for i in range(4)
        )

    def tx_ids(self, height: int) -> list[str]:
        return [
            "0x%016x%08x%s" % (height, i, self._cut(mix(self.seed, _OFF, height, i), 40))
            for i in range(self.n_tx(height))
        ]

    def block_timestamp_ms(self, height: int) -> int:
        return (GENESIS_S + height * BLOCK_TIME_S) * 1000

    def block(self, height: int, fork: bool = False) -> dict:
        return {
            "height": height,
            "hash": self.block_hash(height, fork),
            "parent": self.block_hash(height - 1) if height > 0 else "0" * 64,
            "transactions": self.tx_ids(height),
        }

    def block_json(self, height: int, fork: bool = False) -> bytes:
        b = self.block(height, fork)
        k = mix(self.seed, _OFF, height, int(fork), 1 << 40)
        txs = ",".join('"%s"' % t for t in b["transactions"])
        return (
            '{"number":"0x%x","hash":"0x%s","parentHash":"0x%s",'
            '"miner":"0x%s","stateRoot":"0x%s","receiptsRoot":"0x%s",'
            '"logsBloom":"0x%s","extraData":"0x%s","gasLimit":"0x1c9c380",'
            '"gasUsed":"0x%x","timestamp":"0x%x","baseFeePerGas":"0x%x",'
            '"transactions":[%s],"uncles":[]}'
            % (
                height, b["hash"], b["parent"], self._cut(k, 40),
                self._cut(k >> 3, 64), self._cut(k >> 5, 64), self._cut(k >> 7, 512),
                self._cut(k >> 9, 64), 21_000 * len(b["transactions"]),
                self.block_timestamp_ms(height) // 1000, 7 + k % 100, txs,
            )
        ).encode()

    # -- transactions ---------------------------------------------------------
    @staticmethod
    def _tx_key(txid: str) -> tuple[int, int]:
        return int(txid[2:18], 16), int(txid[18:26], 16)

    def _input_hex(self, h: int, i: int) -> str:
        r = mix(self.seed, _INPUT, h, i)
        if r % 10 < 3:  # plain value transfer
            return ""
        return self._cut(r >> 8, 2 * (68 + (r >> 40) % 1_200))

    def tx_json(self, height: int, txid: str) -> bytes:
        h, i = self._tx_key(txid)
        k = mix(self.seed, _OFF, h, i, 1)
        return (
            '{"blockHash":"0x%s","blockNumber":"0x%x","from":"0x%s","gas":"0x%x",'
            '"gasPrice":"0x%x","hash":"%s","input":"0x%s","nonce":"0x%x",'
            '"to":"0x%s","transactionIndex":"0x%x","value":"0x%x","type":"0x2",'
            '"chainId":"0x1","v":"0x1","r":"0x%s","s":"0x%s"}'
            % (
                self.block_hash(h), h, self._cut(k, 40), 21_000 + k % 500_000,
                k % 10**11, txid, self._input_hex(h, i), k % 5_000,
                self._cut(k >> 4, 40), i, k % 10**18, self._cut(k >> 6, 64),
                self._cut(k >> 8, 64),
            )
        ).encode()

    def tx_raw(self, txid: str) -> bytes:
        h, i = self._tx_key(txid)
        _, raw = self._buffers()
        n = 110 + len(self._input_hex(h, i)) // 2
        off = mix(self.seed, _OFF, h, i, 2) % (len(raw) - n)
        return raw[off : off + n]

    def receipt_json(self, txid: str) -> bytes:
        h, i = self._tx_key(txid)
        r = mix(self.seed, _LOGS, h, i)
        logs = ",".join(
            '{"address":"0x%s","topics":["0x%s","0x%s","0x%s"],"data":"0x%s",'
            '"logIndex":"0x%x","removed":false}'
            % (
                self._cut(r >> j, 40), self._cut(r >> (j + 1), 64),
                self._cut(r >> (j + 2), 64), self._cut(r >> (j + 3), 64),
                self._cut(r >> (j + 4), 64 * (1 + (r >> j) % 4)), j,
            )
            for j in range(r % 7)
        )
        return (
            '{"transactionHash":"%s","blockNumber":"0x%x","status":"0x1",'
            '"gasUsed":"0x%x","logsBloom":"0x%s","logs":[%s]}'
            % (txid, h, 21_000 + r % 300_000, self._cut(r >> 11, 512), logs)
        ).encode()

    def tx_details(self, height: int, txid: str) -> dict:
        h, i = self._tx_key(txid)
        k = mix(self.seed, _OFF, h, i, 1)
        return {
            "json": self.tx_json(height, txid),
            "raw": self.tx_raw(txid),
            "from": "0x" + self._cut(k, 40),
            "to": "0x" + self._cut(k >> 4, 40),
            "receiptJson": self.receipt_json(txid),
        }

    # -- traces ---------------------------------------------------------------
    def trace_json(self, txid: str) -> bytes:
        h, i = self._tx_key(txid)
        r = mix(self.seed, _TRACE, h, i)
        calls = ",".join(
            '{"type":"CALL","to":"0x%s","gasUsed":"0x%x","input":"0x%s","output":"0x%s"}'
            % (self._cut(r >> j, 40), r % 90_000, self._cut(r >> (j + 1), 8 + 64 * (j % 3)),
               self._cut(r >> (j + 2), 64))
            for j in range(r % 5)
        )
        return (
            '{"type":"CALL","from":"0x%s","gas":"0x%x","input":"0x%s","calls":[%s]}'
            % (self._cut(r >> 3, 40), r % 10**6, self._input_hex(h, i), calls)
        ).encode()

    def state_diff_json(self, txid: str) -> bytes:
        h, i = self._tx_key(txid)
        r = mix(self.seed, _DIFF, h, i)
        accounts = ",".join(
            '"0x%s":{"balance":{"*":{"from":"0x%s","to":"0x%s"}},"storage":{%s}}'
            % (
                self._cut(r >> j, 40), self._cut(r >> (j + 1), 16), self._cut(r >> (j + 2), 16),
                ",".join(
                    '"0x%s":{"*":{"from":"0x%s","to":"0x%s"}}'
                    % (self._cut(r >> (j + s), 64), self._cut(r >> (j + s + 1), 64),
                       self._cut(r >> (j + s + 2), 64))
                    for s in range((r >> j) % 4)
                ),
            )
            for j in range(2 + r % 3)
        )
        return ('{"post":{%s}}' % accounts).encode()
