"""L1 — random link split (RandomLinkSplit analog, dataloader.py:20-22,
train.py:23-29).

Reference semantics: split the supervision edge type into train/val/test
fractions (params.yaml:8-9 → 0.85/0.15/0.0), keep message-passing edges =
train edges (disjoint from val supervision), never supervise on reverse
edge types.

Spark expression: one seeded uniform draw per edge + threshold cuts. The
draw is ``F.rand(seed)`` — per-row, no shuffle; the three splits are
filters over the same cached frame, so the split is computed once.
Row-order caveat: rand(seed) is seeded *per partition*, so determinism
requires a deterministic partitioning of the input; for strict
reproducibility across cluster shapes use ``hash_split`` which derives
the draw from xxhash64 of the edge key (content-addressed, stable on any
partitioning — the choice at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: the content-addressed hash draws every split, batch-membership and
#: neighbor-sampling expression implements
DRAWS = ("xxhash64", "md5")


def check_draw(draw: str) -> None:
    """Raise ``ValueError`` for a draw name outside ``DRAWS`` — before
    any Column is built, so a typo never runs as the default hash."""
    if draw not in DRAWS:
        raise ValueError(f"unknown draw {draw!r}; expected one of {DRAWS}")


def draw_key(cols: tuple, salts: tuple, draw: str) -> Column:
    """The content-addressed hash of a row: the key columns ``cols``
    salted by ``salts``. 'md5' hashes the ':'-joined string forms with
    each salt as ``str(salt)`` — the recipe DuckDB replays bit-for-bit,
    which needs NON-NULL key columns (concat_ws drops NULLs where the
    twin's '||' propagates them). Any other draw is xxhash64 over the
    columns and ``F.lit(salt)``; xxhash64 is type-sensitive, so an int
    salt must stay an int literal. Sorting by the key is a uniform
    per-row rank; ``draw_bucket`` turns it into a bucket number."""
    if draw == "md5":
        return F.md5(F.concat_ws(
            ":", *[F.col(c).cast("string") for c in cols],
            *[F.lit(str(s)) for s in salts]))
    return F.xxhash64(*[F.col(c) for c in cols], *[F.lit(s) for s in salts])


def _draw_long(key: Column, draw: str) -> Column:
    """``draw_key`` as a long: md5 keeps its first 8 hex chars (32
    bits, as operators/sample.py::hash_draw does); xxhash64 is one."""
    if draw == "md5":
        return F.conv(F.substring(key, 1, 8), 16, 10).cast("long")
    return key


def draw_bucket(key: Column, draw: str, n: int) -> Column:
    """The bucket in [0, n) a ``draw_key`` falls in (``pmod``)."""
    return F.pmod(_draw_long(key, draw), F.lit(n))


def hash_split(edges: DataFrame, val_frac: float = 0.15,
               test_frac: float = 0.0, seed: int = 42,
               src: str = "src", dst: str = "dst",
               draw: str = "xxhash64") -> DataFrame:
    """Adds a 'split' column ∈ {train,val,test}; content-addressed draw:
    u = hash(src, dst, seed) scaled to [0,1). Deterministic for any
    partitioning/cluster shape, no shuffle.

    ``draw`` picks the hash: 'xxhash64' (default — cheapest JVM hash,
    the 100 TB choice) or 'md5' (first 8 hex chars / 2^32, the exact
    recipe operators/sample.py::hash_draw uses — bit-identical in
    DuckDB, which is what lets the registry query be hash-checked
    against an independent SQL twin instead of rows-only). The md5
    variant requires NON-NULL key columns (concat_ws drops NULLs
    Spark-side while the twin's '||' propagates them); the registry
    queries feed null-dropped edge frames, and the xxhash64 default
    has no such precondition."""
    check_draw(draw)
    key = draw_key((src, dst), (seed,), draw)
    if draw == "md5":
        u = _draw_long(key, draw) / F.lit(float(2 ** 32))
    else:
        u = (draw_bucket(key, draw, 1_000_000).cast("double")
             / F.lit(1_000_000.0))
    train_cut = 1.0 - val_frac - test_frac
    val_cut = 1.0 - test_frac
    return edges.withColumn(
        "split",
        F.when(u < train_cut, F.lit("train"))
        .when(u < val_cut, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def random_link_split(edges: DataFrame, val_frac: float = 0.15,
                      test_frac: float = 0.0, seed: int = 42) -> dict:
    """{'train': DF, 'val': DF, 'test': DF, 'message': DF} — message-passing
    edges are the train edges (reference default:
    disjoint_train_ratio=0, add_negative_train_samples=False)."""
    tagged = hash_split(edges, val_frac, test_frac, seed)
    out = {name: tagged.filter(F.col("split") == name).drop("split")
           for name in ("train", "val", "test")}
    out["message"] = out["train"]
    return out
