"""Seeded inputs for the benchmark and the independent expected state.

Every row image is a pure function of ``(k, v, seed)``:

* ``v == 0`` -- the *generated* image the engine's own source layer
  (``sources.tokens.tokens_df``) derives from a documents file: ``n_tok =
  n_chars // 4 + 1``, tokens from the source layer's generator constants.
* ``v >= 1`` -- an *update* image (MERGE or CDC): its own ``n_tok``,
  source and token stream (the source layer's update constants), so a
  wrong survivor changes the table digest.

``n_chars``, ``n_tok`` and ``source`` come from integer arithmetic that
Python and Spark evaluate identically, so the client knows every image's
size and logical bytes without running a Spark job. Keys are integers with
exactly seven digits: their string form sorts like the number, so min/max
stats on ``doc_id`` prune contiguous ranges.
"""

from __future__ import annotations

import random

import pandas as pd

from lakehouse_benchmark_ingestion_spark.sources.tokens import (
    GEN_A,
    GEN_B,
    GEN_C,
    TOK_DIGEST_SPARK,
    UPD_A,
    UPD_B,
    UPD_C,
    _token_expr,
)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

KEY0 = 1_000_000  # generated keys (base table and appends) count up from here
NEW0 = 5_000_000  # keys first written by MERGE / CDC inserts count up from here
SOURCES = 8
MOD = 1_000_003


def _mix(k, v, salt: int, s: int):
    """Same value for Python ints and Spark long columns (all terms >= 0)."""
    return (k * 2654435761 + v * 40503 + salt * 97 + s) % MOD


class Images:
    """Image attributes for one run; ``s`` is the seed folded into [0, MOD)."""

    def __init__(self, seed: int):
        self.s = seed % MOD

    # ---- Python side ----------------------------------------------------
    def n_chars(self, k: int) -> int:
        return 80 + _mix(k, 0, 1, self.s) % 400

    def n_tok(self, k: int, v: int) -> int:
        return self.n_chars(k) // 4 + 1 if v == 0 else 20 + _mix(k, v, 3, self.s) % 100

    def source(self, k: int, v: int) -> str:
        return f"src{_mix(k, 0, 2, self.s) % SOURCES}" if v == 0 else f"upd{_mix(k, v, 4, self.s) % SOURCES}"

    def logical(self, k: int, v: int) -> int:
        """len(doc_id) + len(source) + 4 * n_tok + 4 (codec independent)."""
        return len(str(k)) + len(self.source(k, v)) + 4 * self.n_tok(k, v) + 4

    # ---- Spark side -------------------------------------------------------
    def _mix_col(self, v, salt: int):
        return F.pmod(F.col("k") * F.lit(2654435761) + v * F.lit(40503) + F.lit(salt * 97 + self.s), F.lit(MOD))

    def documents(self, spark: SparkSession, n_keys: int) -> DataFrame:
        """The documents table the source layer reads: keys KEY0 .. KEY0+n_keys."""
        zero = F.lit(0).cast("long")
        return (
            spark.range(KEY0, KEY0 + n_keys)
            .withColumnRenamed("id", "k")
            .select(
                F.col("k").alias("doc_id"),
                (F.lit(80) + F.pmod(self._mix_col(zero, 1), F.lit(400))).alias("n_chars"),
                F.concat(F.lit("src"), F.pmod(self._mix_col(zero, 2), F.lit(SOURCES)).cast("string")).alias(
                    "source"
                ),
            )
        )

    def frame(self, spark: SparkSession, rows: dict[str, list]) -> DataFrame:
        """(k, v, extra columns...) rows -> image rows, via Arrow (no Python workers)."""
        return self.images(spark.createDataFrame(pd.DataFrame(rows)))

    def images(self, df: DataFrame) -> DataFrame:
        """(k long, v long, ...) -> (doc_id, tokens, n_tok, source, ...)."""
        extra = [c for c in df.columns if c not in ("k", "v")]
        v = F.col("v").cast("long")
        gen_ntok = F.floor((F.lit(80) + F.pmod(self._mix_col(F.lit(0).cast("long"), 1), F.lit(400))) / 4) + 1
        upd_ntok = F.lit(20) + F.pmod(self._mix_col(v, 3), F.lit(100))
        gen_src = F.concat(F.lit("src"), F.pmod(self._mix_col(F.lit(0).cast("long"), 2), F.lit(SOURCES)).cast("string"))
        upd_src = F.concat(F.lit("upd"), F.pmod(self._mix_col(v, 4), F.lit(SOURCES)).cast("string"))
        out = df.select(
            F.col("k").cast("long").alias("k"),
            v.alias("v"),
            (F.col("k") * 1000 + v).alias("_useed"),
            F.when(v == 0, gen_ntok).otherwise(upd_ntok).cast("int").alias("n_tok"),
            F.when(v == 0, gen_src).otherwise(upd_src).alias("source"),
            *extra,
        )
        tokens = F.when(F.col("v") == 0, F.expr(_token_expr("k", "n_tok", GEN_A, GEN_B, GEN_C))).otherwise(
            F.expr(_token_expr("_useed", "n_tok", UPD_A, UPD_B, UPD_C))
        )
        return out.select(F.col("k").cast("string").alias("doc_id"), tokens.alias("tokens"), "n_tok", "source", *extra)


def table_aggregate(df: DataFrame) -> tuple[int, int, int]:
    """(rows, sum(n_tok), sum of the position-weighted token digest)."""
    r = df.agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum("n_tok"), F.lit(0)),
        F.coalesce(F.sum(F.expr(TOK_DIGEST_SPARK)), F.lit(0)),
    ).first()
    return int(r[0]), int(r[1]), int(r[2])


class KeySpace:
    """Which image every live key holds, plus seeded key choice.

    Updates and deletes are drawn from the keys the table actually holds
    (never from a key form the table does not store); inserts take fresh
    keys from the NEW0 range."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.live: list[int] = []
        self.pos: dict[int, int] = {}
        self.ver: dict[int, int] = {}
        self.next_gen = KEY0
        self.next_new = NEW0
        self.next_v = 1

    def _add(self, k: int, v: int) -> None:
        if k not in self.pos:
            self.pos[k] = len(self.live)
            self.live.append(k)
        self.ver[k] = v

    def _remove(self, k: int) -> None:
        i = self.pos.pop(k, None)
        if i is None:
            return
        last = self.live.pop()
        if last != k:
            self.live[i] = last
            self.pos[last] = i
        self.ver.pop(k, None)

    def take_generated(self, n: int) -> tuple[int, int]:
        """Reserve the next ``n`` generated keys; returns the [lo, hi) range."""
        lo = self.next_gen
        self.next_gen += n
        for k in range(lo, self.next_gen):
            self._add(k, 0)
        return lo, self.next_gen

    def version(self) -> int:
        v = self.next_v
        self.next_v += 1
        return v

    def sample_live(self, n: int) -> list[int]:
        return self.rng.sample(self.live, n)

    def window(self, frac: float) -> list[int]:
        """The live keys in a random contiguous window holding ``frac`` of
        them: updates cluster on part of the table, so a MERGE rewrites some
        files and leaves the rest."""
        keys = sorted(self.live)
        width = int(len(keys) * frac)
        lo = self.rng.randrange(0, len(keys) - width + 1)
        return keys[lo : lo + width]

    def fresh(self, n: int) -> list[int]:
        lo = self.next_new
        self.next_new += n
        return list(range(lo, lo + n))

    def apply(self, k: int, v: int, op: str) -> None:
        if op == "D":
            self._remove(k)
        else:
            self._add(k, v)

    def expected(self, spark: SparkSession, img: Images) -> tuple[int, int, int]:
        """Expected (rows, sum n_tok, digest) of the live rows, in plain Spark."""
        return table_aggregate(img.frame(spark, {"k": list(self.ver), "v": list(self.ver.values())}))

    def live_logical(self, img: Images) -> int:
        return sum(img.logical(k, v) for k, v in self.ver.items())
