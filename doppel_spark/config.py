"""Job configuration: filter predicates, size parsing, presets, pipeline knobs.

Re-expresses the reference's filter system
(/root/reference/internal/filter/filter.go) as Catalyst ``Column``
predicates over a page table, and its config struct
(/root/reference/internal/config/config.go:36-107) as frozen
dataclasses. The provider/merge framework (yaml/toml/json/env priority
chain, config/loader.go:103-144) is intentionally NOT rebuilt — on
Spark, job config arrives via ``spark-submit --conf`` / CLI args and a
plain dataclass is the idiomatic carrier.
"""

from __future__ import annotations

import fnmatch
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class FilterConfigError(ValueError):
    """Invalid filter construction (mirrors BuildConfig errors, filter.go:55-127)."""


_SIZE_UNITS: dict[str, int] = {
    "b": 1,
    "kb": 10**3, "mb": 10**6, "gb": 10**9, "tb": 10**12, "pb": 10**15, "eb": 10**18,
    "kib": 2**10, "mib": 2**20, "gib": 2**30, "tib": 2**40, "pib": 2**50, "eib": 2**60,
    "k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40, "p": 2**50, "e": 2**60,
}

_SIZE_RE = re.compile(r"^\s*([0-9]*\.?[0-9]+)\s*([a-zA-Z]*)\s*$")


def parse_size(s: str) -> int:
    """Parse a human size literal — ``"1.5MB"``, ``"10KiB"``, ``"128"``.

    Mirrors ``ParseFileSize`` (/root/reference/internal/filter/filter.go:
    256-341): case-insensitive units, optional whitespace, decimal and
    binary multipliers, negative → 0, overflow rejected.
    """
    if not s or not s.strip():
        return 0
    raw = s.strip()
    neg = raw.startswith("-")
    if neg:
        raw = raw[1:]
    m = _SIZE_RE.match(raw)
    if not m:
        raise FilterConfigError(f"invalid size literal: {s!r}")
    num, unit = float(m.group(1)), m.group(2).lower() or "b"
    if unit not in _SIZE_UNITS:
        raise FilterConfigError(f"unknown size unit in {s!r}")
    val = num * _SIZE_UNITS[unit]
    if val > 2**63 - 1:
        raise FilterConfigError(f"size overflows int64: {s!r}")
    return 0 if neg else int(val)


def format_bytes(n: int) -> str:
    """Human-readable decimal bytes (≈ FormatBytes, output/formatter.go:97-110)."""
    if n < 1000:
        return f"{n} B"
    units = ["KB", "MB", "GB", "TB", "PB", "EB"]
    v = float(n)
    for u in units:
        v /= 1000.0
        if v < 1000 or u == units[-1]:
            return f"{v:.1f} {u}"
    return f"{v:.1f} EB"


def _glob_to_like(pat: str) -> str:
    """Translate a filesystem glob to a SQL LIKE pattern.

    Covers ``*`` and ``?`` (the subset the reference exercises via
    ``filepath.Match``); character classes fall back to regex via
    :func:`fnmatch.translate` at predicate-build time.
    """
    return (
        pat.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
        .replace("*", "%").replace("?", "_")
    )


@dataclass(frozen=True)
class FilterConfig:
    """Row-filter predicate spec over a page/document table.

    Field-by-field analog of ``filter.Config``
    (/root/reference/internal/filter/filter.go:28-52), re-keyed from
    filesystem paths to page columns:

    * ``exclude_url_globs`` / ``exclude_url_regexes`` ≈ file-name
      globs/regexes (ShouldExcludeFile, filter.go:189-204)
    * ``exclude_source_globs`` / ``exclude_source_regexes`` ≈ directory
      exclusion (ShouldExcludeDir, filter.go:147-169) — ``source``/
      crawl-segment is the partition-ish "directory" dimension
    * ``min_size`` / ``max_size`` — text-length window in characters
      (filter.go:176-186), clamped at 0; the ``min == max > 0``
      keep-only-exact-size corner case is preserved, as is the
      directly-constructed ``min > max`` ⇒ exclude-everything behavior
      (filter_test.go:358-367)
    * ``langs`` — optional allow-list (new dimension, no reference
      counterpart; pages have languages, files do not)
    """

    exclude_url_globs: tuple[str, ...] = ()
    exclude_url_regexes: tuple[str, ...] = ()
    exclude_source_globs: tuple[str, ...] = ()
    exclude_source_regexes: tuple[str, ...] = ()
    min_size: int = 0
    max_size: int = 0
    langs: tuple[str, ...] = ()

    def __post_init__(self) -> None:
        for rx in (*self.exclude_url_regexes, *self.exclude_source_regexes):
            try:
                re.compile(rx)
            except re.error as e:  # invalid regex rejected at build (filter.go:87-101)
                raise FilterConfigError(f"invalid regex {rx!r}: {e}") from e
        # negative sizes clamp to 0 (filter.go:104-110)
        object.__setattr__(self, "min_size", max(self.min_size, 0))
        object.__setattr__(self, "max_size", max(self.max_size, 0))

    # -- predicate construction ------------------------------------------------

    def keep_predicate(
        self, url_col: str = "url", size_col: Column | str = "n_chars",
        source_col: str | None = "source", lang_col: str | None = "lang",
    ) -> Column:
        """One Catalyst ``Column``: True for rows the scan keeps.

        Composes size-window + glob/regex exclusion exactly like
        ``ShouldExcludeFile``/``ShouldExcludeDir`` applied during the
        walk (scanner.go:55-61,85-92); Catalyst pushes the conjuncts to
        the parquet scan.
        """
        size = F.col(size_col) if isinstance(size_col, str) else size_col
        pred = F.lit(True)
        if self.min_size > 0:
            pred = pred & (size >= F.lit(self.min_size))
        if self.max_size > 0:
            pred = pred & (size <= F.lit(self.max_size))
        pred = pred & ~self._exclude_col(url_col, self.exclude_url_globs,
                                         self.exclude_url_regexes)
        if source_col is not None:
            pred = pred & ~self._exclude_col(source_col, self.exclude_source_globs,
                                             self.exclude_source_regexes)
        if self.langs and lang_col is not None:
            pred = pred & F.col(lang_col).isin(list(self.langs))
        return pred

    @staticmethod
    def _exclude_col(col: str, globs: tuple[str, ...], regexes: tuple[str, ...]) -> Column:
        excl = F.lit(False)
        for g in globs:
            if any(ch in g for ch in "[]"):  # character classes → regex fallback
                # rlike searches unanchored; fnmatch.translate end-anchors
                # (\Z) only — prefix ^ for full-string match like the
                # like() branch and the reference's filepath.Match
                excl = excl | F.col(col).rlike("^" + fnmatch.translate(g))
            else:
                excl = excl | F.col(col).like(_glob_to_like(g))
        for rx in regexes:
            excl = excl | F.col(col).rlike(rx)
        return excl

    def apply(self, df: DataFrame, **cols: str | None) -> DataFrame:
        return df.filter(self.keep_predicate(**cols))


#: Named canned filter configs ≈ presets.go:6-33 (dev/media/docs/clean),
#: re-keyed to web-page dimensions.
PRESETS: dict[str, FilterConfig] = {
    "dev": FilterConfig(
        exclude_source_globs=("*staging*", "*test*"),
        exclude_url_globs=("*.json", "*.xml", "*robots.txt*"),
        min_size=100,
    ),
    "media": FilterConfig(
        exclude_url_regexes=(r"\.(jpg|jpeg|png|gif|mp4|webm|mp3)([?#].*)?$",),
        min_size=10_240,
    ),
    "docs": FilterConfig(
        exclude_url_regexes=(r"\.(css|js|ico)([?#].*)?$",),
        min_size=1_024,
    ),
    "clean": FilterConfig(),
}


def get_preset(name: str) -> FilterConfig:
    """≈ GetPresetConfig (/root/reference/internal/filter/presets.go:6-33)."""
    try:
        return PRESETS[name]
    except KeyError:
        raise FilterConfigError(
            f"unknown preset {name!r}; have {sorted(PRESETS)}"
        ) from None


@dataclass(frozen=True)
class NearDupConfig:
    """Near-dup tier knobs (north-rule extension; no reference analog).

    Defaults chosen so the LSH S-curve is near-vertical around the
    verification threshold: with 128 perms split into 32 bands × 4 rows
    the candidate probability at Jaccard 0.8 is 1-(1-0.8^4)^32 ≈ 1-5e-8.
    """

    shingle_k: int = 5          # words per shingle
    num_perm: int = 128         # MinHash permutations
    bands: int = 32             # LSH bands (bands × rows_per_band == num_perm)
    seed: int = 42
    jaccard_threshold: float = 0.8   # pair-verification threshold
    #: verification accepts estimated Jaccard ≥ threshold − margin. The
    #: estimator's std at J≈0.8 with 128 perms is ~0.035; a 0.1 margin
    #: puts a true-positive miss ~2.8σ out (P < 0.003) — this is what
    #: makes recall ≥ 0.99 achievable at the threshold boundary.
    verify_margin: float = 0.1
    bucket_cap: int = 256       # max docs per LSH bucket before pair explosion
    simhash_hamming: int = 3    # max Hamming distance for SimHash near-dups
    min_substring: int = 256    # suffix-array common-substring report floor

    @property
    def rows_per_band(self) -> int:
        if self.num_perm % self.bands:
            raise FilterConfigError("num_perm must divide evenly into bands")
        return self.num_perm // self.bands
