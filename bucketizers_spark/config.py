"""Job configuration model + validation.

Mirrors the reference's config surface:
- ``BucketizerCoreOptions`` (bucketProperty, pageSize default 50) and
  ``BucketizerCoreExtOptions`` (adds propertyPath, root default "root"):
  /root/reference/packages/bucketizer-core/lib/BucketizerCore.ts:18-35, 57-75,
  defaults at :28-30, :89-92 (pageSize) and :61-64, :200-206 (root).
- The SHACL shape gate (bucketType enum + cardinality/datatype checks):
  /root/reference/packages/bucketizers/lib/shape.ttl:8-89 and
  /root/reference/packages/bucketizers/lib/bucketizers.ts:27-46.
  SHACL itself is not ported — the shape is a closed enum + required-field
  check, reproduced here in plain Python (SURVEY.md §2 O11).
- ``maxRelations`` default 100 (not the dead field default 50):
  /root/reference/packages/bucketizer-subject-page/lib/SubjectPageBucketizer.ts:36
  (``bucketizerOptions.maxRelations || 100``).
- The subject-page instance hash is ``Math.random()`` in the reference
  (SubjectPageBucketizer.ts:37) — non-deterministic per run; the reference's
  own test pins it (SubjectPageBucketizer.test.ts:92). We make it an explicit
  ``salt`` config value so runs are reproducible and resumable.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

DEFAULT_PAGE_SIZE = 50  # BucketizerCore.ts:28-30, 89-92
DEFAULT_ROOT = "root"  # BucketizerCore.ts:61-64, 200-206
DEFAULT_MAX_RELATIONS = 100  # SubjectPageBucketizer.ts:36

#: Closed strategy enum — shape.ttl:19-21 allows {basic, geospatial,
#: substring, subject} (+ the multi combinator configured as a list,
#: MultiBucketizer.ts:22-44). "time" is this engine's streaming
#: generalization of "basic" (arrival-order paging → event-time windows),
#: required by BASELINE.json north_rule.
STRATEGIES = frozenset(
    {"basic", "substring", "subject", "geospatial", "multi", "time"}
)

WINDOW_KINDS = frozenset({"tumbling", "sliding", "session"})


class ConfigError(ValueError):
    """Raised when a job spec fails validation (the SHACL-reject analog,
    cf. factory.test.ts:231-256 rejecting ``bucketType: something``)."""


@dataclass
class WindowSpec:
    kind: str = "tumbling"
    duration: str = "1 hour"
    slide: Optional[str] = None  # sliding only
    gap: Optional[str] = None  # session only


@dataclass
class JobSpec:
    """One bucketizer stage. ``multi`` composes a list of these (S5)."""

    strategy: str
    page_size: int = DEFAULT_PAGE_SIZE
    root: str = DEFAULT_ROOT
    # column holding the property value (the fixed-schema analog of the
    # reference's propertyPath, SURVEY.md §1.4); None → fallback for all rows
    column: Optional[str] = None
    property_path: Optional[str] = None  # reported in relation `path`
    salt: str = "s0"  # subject-page instance hash, pinned (see module doc)
    max_relations: int = DEFAULT_MAX_RELATIONS
    zoom: int = 4  # geospatial
    window: Optional[WindowSpec] = None  # time strategy
    watermark: Optional[str] = None  # e.g. "10 minutes"
    configs: list["JobSpec"] = field(default_factory=list)  # multi
    # token mode for substring: chain over leading token n-grams instead of
    # characters (north_star: "radix-trie over leading token n-grams")
    token_mode: bool = False
    max_depth: int = 64  # cascade safety cap (token mode: n-gram depth cap)
    # substring-trie skew defusal (north_rule "salted repartitioning to
    # defuse skew on hot prefixes"): salts per distributed cascade level;
    # 0 takes operators/substring.DEFAULT_SALT_BUCKETS. The count spreads
    # a hot node over tasks and never changes the placement.
    salt_buckets: int = 0
    # basic pager: a dense source-stamped seq makes paging a stateless
    # narrow map (THE production default at 10^12 rows — a global rank,
    # however distributed, is avoidable work); False runs the exact
    # arrival-rank parity path
    dense_seq: bool = False

    def __post_init__(self) -> None:
        validate_spec(self)


def validate_spec(spec: JobSpec, *, streaming: bool = False) -> None:
    """Plain-Python port of the shape.ttl constraints (O11).

    ``streaming=True`` additionally applies the streaming-engine
    restrictions so a bad spec fails HERE, at configuration time,
    instead of as a NotImplementedError when the stream starts: session
    windows are refused anywhere inside a streaming multi (stage-0 or
    child) — a session window AGGREGATES members into one row per
    (key, session) rather than assigning each member a bucket, so there
    is no per-member bucket stream to page or compose (the standalone
    session aggregation is streaming.windows.session_stream; the
    reference has no time semantics at all). Mirrors the refusal in
    streaming/compose.stages_from_spec, which calls this first."""
    if spec.strategy not in STRATEGIES:
        raise ConfigError(
            f"unknown bucketType {spec.strategy!r}; expected one of "
            f"{sorted(STRATEGIES)} (shape.ttl:19-21)"
        )
    if not isinstance(spec.page_size, int) or spec.page_size < 1:
        raise ConfigError("pageSize must be a positive integer (shape.ttl:22)")
    if spec.strategy in {"substring", "subject", "geospatial"} and not spec.column:
        raise ConfigError(
            f"strategy {spec.strategy!r} requires a property column "
            "(tree:path required for ext strategies, shape.ttl)"
        )
    if spec.strategy == "multi":
        if not spec.configs:
            raise ConfigError("multi requires a non-empty configs list")
        for sub in spec.configs:
            if sub.strategy == "multi":
                raise ConfigError("multi cannot nest multi")
            if (
                streaming
                and sub.strategy == "time"
                and sub.window is not None
                and sub.window.kind == "session"
            ):
                raise ConfigError(
                    "streaming multi does not support session-window "
                    "stages: a session window aggregates members into "
                    "one row per (key, session) instead of assigning "
                    "each member a bucket, so there is no per-member "
                    "bucket stream to page or compose (use tumbling/"
                    "sliding, or the standalone "
                    "streaming.windows.session_stream)"
                )
    if spec.strategy == "time":
        win = spec.window or WindowSpec()
        if win.kind not in WINDOW_KINDS:
            raise ConfigError(f"unknown window kind {win.kind!r}")
        if win.kind == "session" and not win.gap:
            raise ConfigError("session window requires a gap")
        spec.window = win
    if not isinstance(spec.max_relations, int) or spec.max_relations < 1:
        raise ConfigError("maxRelations must be a positive integer")
    if not isinstance(spec.salt_buckets, int) or spec.salt_buckets < 0:
        raise ConfigError("saltBuckets must be a non-negative integer")


def spec_from_dict(d: dict[str, Any], *, streaming: bool = False) -> JobSpec:
    """Build a JobSpec from a plain dict (the JSON job-spec front door,
    analog of createBucketizerLD, bucketizers.ts:48-55). Pass
    ``streaming=True`` when the spec will drive a streaming job so the
    streaming-engine restrictions are checked at build time too."""
    d = dict(d)
    if "window" in d and isinstance(d["window"], dict):
        d["window"] = WindowSpec(**d["window"])
    if "configs" in d:
        d["configs"] = [
            c if isinstance(c, JobSpec) else spec_from_dict(c) for c in d["configs"]
        ]
    spec = JobSpec(**d)
    if streaming:
        validate_spec(spec, streaming=True)
    return spec
