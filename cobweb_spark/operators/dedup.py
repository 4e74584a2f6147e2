"""Seen-set rejection — the heart of the engine.

The reference holds the seen-set in Redis sets and does per-link
``sismember`` round-trips (``lib/crawl.rb:130``,
``lib/cobweb_crawler.rb:118-119``). Here the seen-set is an LSM of
hash-partitioned checkpointed key frames and rejection is a chain of
``left_anti`` equi-joins per wave.

Scale tier (north rule): a partitioned bloom filter with a cuckoo-filter
overflow, keyed by xxhash64(url), prefilters candidates *before* the
anti-join: bloom misses are definitely-new and skip the join entirely;
only probable-hits flow into the exact anti-join, which remains the
correctness backstop (a false positive merely routes a new URL through the
join, never drops it). See ``cobweb_spark/operators/filters.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# once engaged, the bank is re-synced only after this many un-synced seen
# parts accumulate; in between, its "definite misses" are backstopped by
# exact anti-joins against the (small, co-partitioned) un-synced parts —
# zero bank jobs on most waves, exactness preserved
BANK_SYNC_EVERY = 4
# the part list is merged into one part when it grows past this
COMPACT_AT = 16


def _chain(df: DataFrame, parts: list[DataFrame], key_col: str) -> DataFrame:
    for p in parts:
        df = df.join(p, key_col, "left_anti")
    return df


def _union(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


class SeenParts:
    """The crawl's seen tier: the seen set as a list of single-column key
    frames that PARTITION it, plus the bloom/cuckoo bank in front of them.

    Keys are the queued-form URL string (``link``) or — slim expand path —
    its 8-byte xxhash64 (``link_key``; see ``CrawlConfig.slim_expand`` for
    the collision bound that keying trades for a ~6x smaller join
    payload). Each part is hash-partitioned on the key and checkpointed
    (one per wave, merged into one past ``COMPACT_AT``). Rejection chains
    per part: the candidate side is shuffled ONCE (by the first join's
    ENSURE_REQUIREMENTS) and every part streams with no exchange —
    checkpointed frames keep their partitioning — so the per-wave cost
    stops including a full re-shuffle of the ever-growing seen relation
    (the Iceberg analogue: anti-join against a bucket(url) table's
    appended snapshots).

    ``bank`` is an optional SeenFilterBank. It engages once the seen set
    reaches ``min_seen``; maintenance is lazy — nothing is added until it
    first engages, then ``parts[synced:]`` are folded in when nothing is
    synced yet (first engagement, or after a compaction renumbered the
    parts) or when ``BANK_SYNC_EVERY`` parts are un-synced. A resumed
    crawl therefore rebuilds its bank from the loaded seen part.
    """

    def __init__(
        self,
        seen: DataFrame,
        n_part: int,
        slim: bool,
        bank=None,
        min_seen: int = 0,
    ):
        self.slim = slim
        self.key_col = "link_key" if slim else "link"
        self.n_part = n_part
        self.bank = bank
        self.min_seen = min_seen
        self.synced = 0  # parts[:synced] are in the bank
        self.parts = [self._part(self.keys(seen))]

    def keys(self, urls: DataFrame, col: str = "url") -> DataFrame:
        """The single-column key frame of ``urls[col]``."""
        return urls.select(
            F.xxhash64(col).alias("link_key")
            if self.slim
            else F.col(col).alias("link")
        )

    def _part(self, keys: DataFrame) -> DataFrame:
        # pre-partitioned on the join key so future waves' anti-joins
        # stream it with no exchange; lazy — the next wave's chain
        # materializes it
        return keys.repartition(self.n_part, self.key_col).localCheckpoint(
            eager=False
        )

    def engaged(self, n_seen: int) -> bool:
        """Whether the bloom tier probes this wave: once seen is big
        enough to out-cost the probe (``CrawlConfig.prefilter_min_seen``)."""
        return self.bank is not None and n_seen >= self.min_seen

    def reject(
        self,
        candidates: DataFrame,
        engaged: bool,
        finals: DataFrame | None = None,
    ) -> DataFrame:
        """``candidates`` minus seen, on ``key_col``. ``finals`` is this
        wave's redirect-final key frame: not in any part yet, it rejects
        like one (and backstops the bank's misses).

        Engaged, candidates are split into definite misses (they never
        scan, shuffle against or join the seen parts — THE saving at a
        10^10-row seen set) and probable hits (exact anti-join). The
        flagged stream is checkpointed before the split, so both branches
        read one pass instead of re-executing the whole
        extract→classify→dedup→probe pipeline.
        """
        extra = [finals] if finals is not None else []
        if not engaged:
            return _chain(candidates, self.parts + extra, self.key_col)
        if self.synced == 0 or (
            len(self.parts) - self.synced >= BANK_SYNC_EVERY
        ):
            # one cogroup + publish over the un-synced parts — on first
            # engagement, every part (≈ one anti-join's worth of work,
            # paid once)
            self.bank.add(
                _union(self.parts[self.synced :]),
                key_col=self.key_col,
                key_is_hash=self.slim,
            )
            self.synced = len(self.parts)
        flagged = self.bank.mark_probable(
            candidates, key_col=self.key_col, key_is_hash=self.slim
        ).localCheckpoint()
        misses = flagged.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
        probable = flagged.filter(F.col("__maybe_seen")).drop("__maybe_seen")
        # misses are definite only w.r.t. the synced prefix: the un-synced
        # residual parts (small, co-partitioned) backstop them exactly
        misses = _chain(misses, self.parts[self.synced :] + extra, self.key_col)
        return misses.unionByName(
            _chain(probable, self.parts + extra, self.key_col)
        )

    def append(self, urls: DataFrame, finals: DataFrame | None = None) -> None:
        """Add one wave's part: its new URLs (``urls.url``) plus its
        redirect-final keys. Compacts the list past ``COMPACT_AT``."""
        keys = self.keys(urls)
        if finals is not None:
            keys = keys.unionByName(finals)
        self.parts.append(self._part(keys))
        if len(self.parts) > COMPACT_AT:
            self.parts = [self._part(_union(self.parts))]
            # compaction renumbers the parts: the next engaged wave
            # re-syncs the merged part (bloom re-adds are idempotent)
            self.synced = 0
