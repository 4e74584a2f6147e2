"""Distributed seen-set filter bank: the bloom/cuckoo prefilter tier.

State is a ``filters`` DataFrame of one row per shard::

    shard int, bloom binary, n_keys long, cuckoo binary

maintained and probed with ``cogroup().applyInPandas`` — per-shard batches
of keys meet their shard's bitset inside an Arrow-batched pandas function,
so membership testing never broadcasts the full bank and never joins the
blob onto candidate rows. Keys are ``xxhash64(url)`` computed JVM-side;
shard = pmod(key, n_shards).

At the 10^10-URL design point: 4096 shards × (bloom sized for n/4096 keys
at 1% fpp) ≈ 3 GB of filter state total, co-partitioned with the candidate
stream — each wave touches only the shards its candidates hash to. The
exact ``seen`` anti-join stays as the correctness backstop (bloom hits are
*probable*; misses are definite).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..filters_np import ShardFilter

FILTERS_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("bloom", T.BinaryType()),
        T.StructField("n_keys", T.LongType()),
        T.StructField("cuckoo", T.BinaryType()),
    ]
)

# worker-process cache of deserialized shard filters, keyed by bank
# generation — avoids re-reading the bank per Arrow batch
_PROBE_CACHE: dict = {}


def _load_bank_path(token, path: str, cap: int, fpp: float) -> dict:
    """Executor-side bank load: each Python worker reads the published
    generation's parquet ONCE (then serves every batch from memory). No
    driver collect, no broadcast rebuild per wave — the production shape,
    where the bank is the Iceberg ``filters`` table on shared storage and
    executors read it like any other table."""
    hit = _PROBE_CACHE.get("bank")
    if hit is not None and hit[0] == token:
        return hit[1]
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["shard", "bloom", "n_keys", "cuckoo"])
    filters = {
        int(s): ShardFilter.from_state(b, int(n), c, cap, fpp)
        for s, b, n, c in zip(
            t["shard"].to_pylist(),
            t["bloom"].to_pylist(),
            t["n_keys"].to_pylist(),
            t["cuckoo"].to_pylist(),
        )
    }
    _PROBE_CACHE["bank"] = (token, filters)
    return filters


def bank_scratch_base() -> str:
    """Directory under which a bank without a ``scratch_dir`` makes its
    ``seenbank-*`` scratch."""
    import os
    import tempfile

    return os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR",
        "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir(),
    )


class SeenFilterBank:
    """Filter state lives in a real (scratch parquet) table, re-written
    per merge — NEVER as a chained in-session lineage. A chained plan
    (cogroup over last wave's cogroup over ...) grows the logical tree
    every wave: Catalyst stats estimation, plan canonicalization and AQE
    explain-string generation all walk it, turning a 30-wave crawl into
    minutes of driver CPU. A parquet leaf keeps every wave's plan
    constant-size with real file statistics. In production this scratch
    table is the Iceberg ``filters`` table the north rule names; in
    local mode it sits on /dev/shm."""

    def __init__(
        self,
        spark: SparkSession,
        n_shards: int = 32,
        capacity_per_shard: int = 1 << 17,
        fpp: float = 0.01,
        scratch_dir: str | None = None,
    ):
        import shutil
        import tempfile
        import weakref

        self.spark = spark
        self.n_shards = n_shards
        self.capacity = capacity_per_shard
        self.fpp = fpp
        if scratch_dir is None:
            scratch_dir = tempfile.mkdtemp(
                prefix="seenbank-", dir=bank_scratch_base()
            )
            # a bank nobody close()s must not leak its scratch: remove the
            # directory when the bank is collected or the interpreter
            # exits (a caller's scratch_dir stays the caller's)
            weakref.finalize(
                self, shutil.rmtree, scratch_dir, ignore_errors=True
            )
        self._scratch = scratch_dir
        self._gen = 0
        self.filters = spark.createDataFrame([], FILTERS_SCHEMA)
        # banks under this size probe via a broadcast + key-only pandas
        # UDF (no shuffle, no full-row Python round trip); above it, the
        # partitioned cogroup tier takes over (a 10^10-URL bank is ~GBs —
        # it must stay sharded and co-partitioned with the candidates)
        self.broadcast_max_bytes = 64 << 20

    def _publish(self, df) -> None:
        """Materialize the merged bank to a fresh scratch generation and
        point ``self.filters`` at the parquet leaf; drop the old gen."""
        import os
        import shutil

        self._gen += 1
        path = os.path.join(self._scratch, f"gen={self._gen:06d}")
        df.write.mode("overwrite").parquet(path)
        self.filters = self.spark.read.schema(FILTERS_SCHEMA).parquet(path)
        # keep TWO generations: a probe UDF constructed against gen-1 may
        # still be (re-)executed after this publish (straggler task retry)
        old = os.path.join(self._scratch, f"gen={self._gen - 2:06d}")
        if self._gen > 2 and os.path.isdir(old):
            shutil.rmtree(old, ignore_errors=True)

    # -- helpers -----------------------------------------------------------
    def _keyed(
        self, df: DataFrame, key_col: str, key_is_hash: bool = False
    ) -> DataFrame:
        # key_is_hash: the column already IS the xxhash64 key (slim
        # expand path) — don't hash the hash
        key = F.col(key_col) if key_is_hash else F.xxhash64(F.col(key_col))
        return df.withColumn("__key", key).withColumn(
            "__shard",
            F.pmod(key, F.lit(self.n_shards)).cast("int"),
        )

    def close(self) -> None:
        """Delete the scratch generations (driver-side cleanup)."""
        import shutil

        shutil.rmtree(self._scratch, ignore_errors=True)

    # -- maintenance -------------------------------------------------------
    def add(
        self,
        urls: DataFrame,
        key_col: str = "url",
        key_is_hash: bool = False,
    ) -> None:
        """Fold new URLs into the per-shard filters (cogroup merge)."""
        keyed = self._keyed(urls, key_col, key_is_hash).select(
            "__shard", "__key"
        )
        cap, fpp = self.capacity, self.fpp

        def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            shard = int(
                left["__shard"].iloc[0]
                if len(left)
                else right["shard"].iloc[0]
            )
            sf = (
                SeenFilterBank._load_static(right, cap, fpp)
            )
            if len(left):
                sf.add(left["__key"].values)
            bloom, n_keys, cuckoo = sf.to_state()
            return pd.DataFrame(
                {
                    "shard": [shard],
                    "bloom": [bloom],
                    "n_keys": [n_keys],
                    "cuckoo": [cuckoo],
                }
            )

        merged = (
            keyed.groupBy("__shard")
            .cogroup(self.filters.groupBy("shard"))
            .applyInPandas(merge, FILTERS_SCHEMA)
        )
        self._publish(merged)

    @staticmethod
    def _load_static(fpdf: pd.DataFrame, cap: int, fpp: float) -> ShardFilter:
        if len(fpdf) == 0:
            return ShardFilter(cap, fpp)
        row = fpdf.iloc[0]
        return ShardFilter.from_state(
            bytes(row["bloom"]),
            int(row["n_keys"]),
            bytes(row["cuckoo"]),
            cap,
            fpp,
        )

    # -- probing -----------------------------------------------------------
    def _estimated_bytes(self) -> int:
        import math

        m = int(-self.capacity * math.log(self.fpp) / (math.log(2) ** 2))
        m = max(64, (m + 63) // 64 * 64)
        cuckoo = max(1 << 8, self.capacity // 64) * 4 * 2
        return self.n_shards * (m // 8 + cuckoo)

    def mark_probable(
        self, df: DataFrame, key_col: str, key_is_hash: bool = False
    ) -> DataFrame:
        """Append ``__maybe_seen`` boolean: False ⇒ definitely unseen.

        Small banks probe with a key-only Arrow UDF whose workers read the
        published bank generation directly (no shuffle, no driver collect,
        no per-wave broadcast rebuild — the scratch path is shared storage:
        /dev/shm in local mode, the Iceberg ``filters`` table location on a
        cluster); big banks co-partition candidates with their shards via
        cogroup so no worker ever holds the whole bank.
        """
        if self._gen == 0:
            # nothing ever added: every key is definitely unseen
            return df.withColumn("__maybe_seen", F.lit(False))
        if self._estimated_bytes() <= self.broadcast_max_bytes:
            from pyspark.sql.functions import pandas_udf

            import os as _os

            path = _os.path.join(self._scratch, f"gen={self._gen:06d}")
            token = (self._scratch, self._gen)
            cap, fpp, n_shards = self.capacity, self.fpp, self.n_shards

            @pandas_udf(T.BooleanType())
            def probe_keys(keys: pd.Series) -> pd.Series:
                filters = _load_bank_path(token, path, cap, fpp)
                k = keys.to_numpy(dtype=np.int64)
                shard = k % n_shards  # == pmod for positive n
                out = np.zeros(len(k), dtype=bool)
                for s in np.unique(shard):
                    sf = filters.get(int(s))
                    if sf is None:
                        continue
                    m = shard == s
                    out[m] = sf.contains(k[m])
                return pd.Series(out)

            key = (
                F.col(key_col)
                if key_is_hash
                else F.xxhash64(F.col(key_col))
            )
            return df.withColumn("__maybe_seen", probe_keys(key))
        keyed = self._keyed(df, key_col, key_is_hash)
        out_schema = T.StructType(
            keyed.schema.fields + [T.StructField("__maybe_seen", T.BooleanType())]
        )
        cap, fpp = self.capacity, self.fpp

        def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if len(left) == 0:
                return pd.DataFrame(columns=[f.name for f in out_schema])
            sf = SeenFilterBank._load_static(right, cap, fpp)
            left = left.copy()
            left["__maybe_seen"] = sf.contains(left["__key"].values)
            return left

        probed = (
            keyed.groupBy("__shard")
            .cogroup(self.filters.groupBy("shard"))
            .applyInPandas(probe, out_schema)
        )
        return probed.drop("__key", "__shard")
