"""Content hashing — the pass-2/pass-3 analog of the reference.

Reference: BLAKE3 partial hash of first 16KB + last 16KB (scanner.rs:21-48)
and full streaming BLAKE3 (scanner.rs:50-68), invoked per-row inside rayon
parallel maps (lib.rs:83-107,130-152).

Ours: SHA-256. The *full* hash is the built-in ``F.sha2`` (JVM-side,
whole-stage codegen, zero Python) — strictly faster than any UDF. The
*partial* (head+tail window) hash is also expressible with built-ins via
``substr``. The pandas-UDF variants (BASELINE.json's north_star names
"SHA-256 content hashes computed in pandas UDF batches") are kept as
reference implementations with identical digests, checked by tests; the
pipeline always hashes with the built-ins.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

PARTIAL_WINDOW = 16 * 1024  # reference: 16KB head (+16KB tail if >32KB)


def sha256_col(text: Column) -> Column:
    """Full content hash, built-in (preferred hot path)."""
    return F.sha2(text.cast("binary"), 256)


def partial_sha256_col(text: Column) -> Column:
    """Head+tail windowed hash, built-in. Mirrors scanner.rs:33-45:
    first 16KB, plus last 16KB when the content exceeds 32KB; empty
    content → NULL (scanner.rs:30 returns None for empty files)."""
    n = F.length(text)
    head = F.substring(text, 1, PARTIAL_WINDOW)
    tail = F.substring(text, -PARTIAL_WINDOW, PARTIAL_WINDOW)
    window = F.when(n > 2 * PARTIAL_WINDOW, F.concat(head, tail)).otherwise(text)
    return F.when(n > 0, F.sha2(window.cast("binary"), 256)).otherwise(F.lit(None))


@pandas_udf(StringType())
def sha256_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched SHA-256 (north_star-mandated pandas-UDF variant).
    Identical digests to ``sha256_col``."""
    return texts.map(
        lambda t: hashlib.sha256(t.encode("utf-8")).hexdigest() if t is not None else None
    )


@pandas_udf(StringType())
def partial_sha256_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched head+tail windowed SHA-256; None for empty text
    (scanner.rs:30)."""

    def h(t: str | None) -> str | None:
        if t is None or len(t) == 0:
            return None
        b = t.encode("utf-8")
        if len(b) > 2 * PARTIAL_WINDOW:
            b = b[:PARTIAL_WINDOW] + b[-PARTIAL_WINDOW:]
        return hashlib.sha256(b).hexdigest()

    return texts.map(h)


def length_bucket(text: Column) -> Column:
    """Cheap blocking key #1 — the analog of the reference's pass-1
    group-by-size (lib.rs:54-58). Byte-length log2 bucket: coarse enough
    that small formatting drift stays in-bucket, fine enough to prune."""
    n = F.length(text)
    return F.when(n <= 0, F.lit(0)).otherwise(
        F.floor(F.log2(n.cast("double"))).cast("int")
    )


def normalized_for_dedup(text: Column) -> Column:
    """CCNet/Gopher-style "exact after normalization" key: lowercase,
    every digit → ``0``, every run of non-alphanumerics → one space,
    trimmed. Raw-byte exact dedup (pass 2) misses the web's cheapest
    mutations — casing, punctuation, whitespace, counters ("Page 3 of
    10") — which this key collapses while leaving real content edits
    distinct; hashing it adds a second exact tier between pass 2 and
    the MinHash near tier.

    Scale shape identical to pass 2: three codegen ``regexp_replace``
    passes at scan time, then a 32-byte ``sha2`` groupBy key — the
    text itself never shuffles. The character classes are RE2-safe
    (``\\p{L}``/``\\p{N}``), so the DuckDB oracle replays the exact
    algebra (with its explicit ``'g'`` flag)."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[0-9]", "0")
    t = F.regexp_replace(t, r"[^\p{L}\p{N}]+", " ")
    return F.trim(t)


def normalized_sha256_col(text: Column) -> Column:
    """``sha256(normalized_for_dedup(text))`` — the normalized exact
    dedup key, all built-ins."""
    return F.sha2(normalized_for_dedup(text).cast("binary"), 256)
