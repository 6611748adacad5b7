"""Substring / prefix radix trie with per-node capacity (S2) — the level-
synchronous cascade.

Reference semantics
(/root/reference/packages/bucketizer-substring/lib/SubstringBucketizer.ts:44-148):
walk the normalized value character by character from the root; place the
member at the first trie node with room; a full node either descends into an
existing child or creates it (emitting a ``Substring`` relation and placing
the member there). Space-separated words are joined with ``'+'``; prefixes
ending in ``'+'`` are never nodes. A single-word value whose whole string is
consumed lands in the (existing) full-string node even when full, without a
counter update (ts:88-93, test :244-278); a multi-word value whose chain is
exhausted gets **no bucket** (ts:80-86 fallthrough).

Parallel formulation (SURVEY.md §7): the trie's arrival-order counters are
pure functions of each member's arrival rank *per node*. A member's
candidate chain is the sequence of non-'+'-ending prefixes of its value;
node n is only ever a candidate at chain index idx(n) = len(n) minus the
number of skipped '+'-positions — intrinsic to n. So placement can be
computed level-synchronously:

  level 0   the root: capacity page_size is consumed by the first
            page_size members **globally** in seq order — computed as a
            seq threshold (top-K), not a single-partition window.
  level L≥1 group the still-unplaced members by their level-L candidate
            node; within each node, order by seq:
              - the first arrival "creates" the node (1 counter slot) and
                emits the Substring relation from its parent;
              - non-terminal arrivals fill the remaining capacity in rank
                order; overflow cascades to level L+1;
              - terminal arrivals (chain exhausted at this node) are all
                assigned here: the single-word ones without consuming
                capacity, the multi-word non-first ones not at all
                (bucket_id NULL).

Every reference counter mutation is reproduced exactly; equivalence with the
sequential oracle is pytest-pinned on randomized fixtures.

Scale notes:
- Each level shuffles only the still-unplaced rows (shrinking fast: a level
  places up to page_size rows per node). Level count ≈ depth of the hottest
  duplicated prefix, not value length.
- Once the remaining set fits per-group pandas memory (tail_threshold), the
  whole residual trie finishes in ONE applyInPandas shuffle (grouped
  subtrie walk — no driver-side collect anywhere in the hot path);
  streaming counters are cogrouped into their subtrie groups.
- Per parent (``parent_col``) the same rule applies one level earlier:
  when the non-empty input itself is at most tail_threshold rows, the
  salted per-parent root is skipped and one grouped walk keyed by the
  parent alone runs each child trie from its seeded root (level 0),
  carried parent-root counters included. The global trie keeps its
  driver-side root threshold.
- Hot-node skew: capacity placement only needs each node's (cap)-th
  smallest seq, so every distributed level is a salted two-phase
  threshold aggregate — per-(node, salt) top-cap candidate lists merged
  per node — and no task ever sorts a whole hot node. The merge is an
  exact partial top-k merge for any salt count (``salt_buckets``, or
  ``DEFAULT_SALT_BUCKETS`` when 0).
- Each level's frame is lineage-cut (eager checkpoint) so the loop's cost
  is linear in levels, not quadratic; the cut's own job also observes the
  count of still-unplaced rows, so no level runs a separate count().
- Streaming counter updates are carried as a ``_cnt`` column of each
  level's cut frame and read off one row per node — a narrow select, no
  per-level aggregate.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bucketizers_spark.operators.core import (
    BucketizeResult,
    child_id,
    const_frame,
    empty_relations,
    empty_seals,
    relation_row,
    root_id,
)
from bucketizers_spark.functions.normalize import normalize_substring_col
from bucketizers_spark.plans.materialize import cut_lineage, cut_lineage_counted

# Separator for per-parent streaming counter keys: parent<US>node. Parent
# bucket ids may contain '/' (geo tiles, subject pages), so 'parent/node'
# is not split-safe. The ASCII unit separator \x1f never appears in a
# bucket or trie-node name (normalizers strip control chars; tile/page
# names are alnum/dash/slash) AND survives the Arrow pandas transfer —
# NUL does not (applyInPandas silently drops \x00 from returned strings).
_PSEP = "\x1f"

# the global trie root's key in the streaming node-counter table: _PSEP
# alone, which no node name contains (keyed by the root's name, the default
# root "root" shares its row with the node "root" a value like "rooted"
# creates)
ROOT_COUNTER_KEY = _PSEP

# salts per distributed trie level (and per-parent root) when the caller
# passes salt_buckets=0
DEFAULT_SALT_BUCKETS = 32

# the streaming node-counter table (``node_state`` / ``counter_updates``)
COUNTER_SCHEMA = T.StructType(
    [T.StructField("node", T.StringType()), T.StructField("cnt", T.LongType())]
)


class _Chain:
    """Callbacks describing a member's candidate-node chain."""

    def __init__(
        self,
        prepare: Callable[[DataFrame], DataFrame],
        node: Callable[[int], Column],  # level L≥1 → node name column
        parent: Callable[[int], Column],  # level L≥2 → parent node name
        sep: str,
        parent_of: Callable[[Column], Column],  # node name → parent name
        py_nodes: Callable[[dict], list[str]],  # row dict → [node_1..node_m]
        input_cols: list[str],  # columns prepare() needs besides seq
        slim: Callable[[DataFrame], DataFrame] | None = None,  # shrink the
        # cascade working set after prepare (drop raw value, cap chains)
        node_prefix_of: Callable[[Column, int], Column] | None = None,
        node_level_of: Callable[[Column], Column] | None = None,
    ):
        self.prepare = prepare  # adds _v-ish cols + _m (chain length) + _multi
        self.node = node
        self.parent = parent
        self.sep = sep
        self.parent_of = parent_of
        self.py_nodes = py_nodes
        self.input_cols = input_cols
        self.slim = slim or (lambda df: df)
        # expressions over a NODE-NAME column (for routing carried streaming
        # counters to their level-L subtrie group in the grouped walk)
        self.node_prefix_of = node_prefix_of
        self.node_level_of = node_level_of


def _char_chain(value_col: str, ascii_fast: bool, max_depth: int) -> _Chain:
    """Character-prefix chain over the normalized value ('+' for spaces)."""

    def prepare(df: DataFrame) -> DataFrame:
        # r7: _m (TRUE chain length = count of non-'+' chars) comes from
        # length(translate(...)) — one native codegen pass — instead of
        # sizing a per-character HOF position array over the WHOLE value
        # (transform/filter are CodegenFallback: interpreted per char,
        # ~7s per evaluation over sf1.0 documents). The position array
        # itself moved to slim(), where it is computed over the already
        # max_depth-capped prefix (a handful of chars, not the document).
        norm = normalize_substring_col(F.col(value_col), ascii_fast=ascii_fast)
        v = F.translate(norm, " ", "+")
        df = df.withColumn("_v", v)
        return df.withColumn(
            "_m", F.length(F.translate(F.col("_v"), "+", ""))
        ).withColumn("_multi", F.col("_v").contains("+"))

    def node(level: int) -> Column:
        return F.col("_v").substr(
            F.lit(1), F.element_at(F.col("_npos"), level)
        )

    def parent(level: int) -> Column:
        return F.col("_v").substr(
            F.lit(1), F.element_at(F.col("_npos"), level - 1)
        )

    def parent_of(node_col: Column) -> Column:
        # drop the last char; a trailing '+' is never a node → drop every
        # trailing '+' too ('++0' — a value whose first word normalizes
        # to nothing — hangs off the root, not off '+')
        trimmed = node_col.substr(F.lit(1), F.length(node_col) - 1)
        return F.regexp_replace(trimmed, r"\++$", "")

    def py_nodes(row: dict) -> list[str]:
        v = row["_v"]
        return [v[:p] for p in row["_npos"]]

    def slim(df: DataFrame) -> DataFrame:
        # the cascade never looks past chain level max_depth: cap the
        # value string to the prefix ending at its max_depth-th non-'+'
        # char — ONE compiled-regex native pass ('+*[^+]' consumed up to
        # max_depth times, greedy, anchored) that replaces the old
        # whole-value per-character HOF scan (r7; _m stays the TRUE
        # chain length from prepare(), so terminal-vs-valve semantics
        # are unchanged). The node-position array is then built over the
        # capped prefix only; positions in a prefix are positions in the
        # full value, so node()/parent()/py_nodes are untouched.
        # split('', '') yields [''] — the filter drops it, so the empty
        # string needs no guard.
        v_t = F.when(
            F.col("_m") > 0,
            F.regexp_extract(
                F.col("_v"),
                r"^((?:\+*[^+]){1," + str(max_depth) + r"})",
                1,
            ),
        ).otherwise(F.col("_v"))
        df = df.withColumn("_v", v_t)
        chars = F.split(F.col("_v"), "")
        npos = F.filter(
            F.transform(
                chars,
                lambda c, i: F.when((c != "+") & (c != ""), i + 1).otherwise(
                    F.lit(None).cast("int")
                ),
            ),
            lambda x: x.isNotNull(),
        )
        return df.withColumn("_npos", npos).drop(value_col)

    def _npos_of(n: Column) -> Column:
        return F.filter(
            F.sequence(F.lit(1), F.length(n)),
            lambda i: n.substr(i, F.lit(1)) != "+",
        )

    def node_prefix_of(n: Column, level: int) -> Column:
        return n.substr(F.lit(1), F.element_at(_npos_of(n), level))

    def node_level_of(n: Column) -> Column:
        return F.size(_npos_of(n))

    return _Chain(prepare, node, parent, "+", parent_of, py_nodes,
                  input_cols=[value_col], slim=slim,
                  node_prefix_of=node_prefix_of, node_level_of=node_level_of)


def _token_chain(tokens_col: str, max_depth: int) -> _Chain:
    """Leading token n-gram chain (north_star: radix trie over token
    n-grams). Node at level L = dash-joined tokens[:L]. All values are
    'single-word' (terminal members are assigned at the full node without
    consuming capacity). Chains are capped at max_depth n-grams; members
    longer than the cap terminate at the cap node."""

    def prepare(df: DataFrame) -> DataFrame:
        return (
            df.withColumn(
                "_m", F.least(F.size(F.col(tokens_col)), F.lit(max_depth))
            )
            .withColumn("_multi", F.lit(False))
        )

    def node(level: int) -> Column:
        return F.concat_ws("-", F.slice(F.col(tokens_col), 1, level))

    def parent(level: int) -> Column:
        return F.concat_ws("-", F.slice(F.col(tokens_col), 1, level - 1))

    def parent_of(node_col: Column) -> Column:
        # drop the last dash-separated token
        return F.when(
            node_col.contains("-"),
            F.regexp_replace(node_col, r"-[^-]*$", ""),
        ).otherwise(F.lit(""))

    def py_nodes(row: dict) -> list[str]:
        toks = list(row[tokens_col])[:max_depth]
        out, cur = [], ""
        for t in toks:
            cur = f"{cur}-{t}" if cur else str(t)
            out.append(cur)
        return out

    def slim(df: DataFrame) -> DataFrame:
        # only the leading max_depth tokens ever feed a node key: a 64-int
        # payload array shrinks to max_depth ints in the shuffled working
        # set (_m stays the full-vs-capped chain length from prepare)
        return df.withColumn(tokens_col, F.slice(F.col(tokens_col), 1, max_depth))

    def node_prefix_of(n: Column, level: int) -> Column:
        return F.concat_ws("-", F.slice(F.split(n, "-"), 1, level))

    def node_level_of(n: Column) -> Column:
        return F.size(F.split(n, "-"))

    return _Chain(prepare, node, parent, "-", parent_of, py_nodes,
                  input_cols=[tokens_col], slim=slim,
                  node_prefix_of=node_prefix_of, node_level_of=node_level_of)


def _walk(
    records: list[dict],
    py_nodes,
    sep: str,
    level: int,
    page_size: int,
    root: str,
    seq_col: str,
    max_depth: int,
    counters: dict[str, int],
):
    """The exact per-member arrival walk of the reference, starting at chain
    index ``level`` with ``counters`` seeded (mutated in place). Returns
    (buckets, relations, touched-node set). ``records`` must be seq-sorted
    and non-empty-valued. At ``level`` 0 the seeded root (counter
    ``root``, SubstringBucketizer.ts:30-31) takes arrivals while it has
    room; it never creates and never emits a relation."""
    buckets: list[str | None] = []
    relations: list[tuple] = []
    touched: set[str] = set()
    for row in records:
        if level == 0 and counters.get(root, 0) < page_size:
            counters[root] = counters.get(root, 0) + 1
            touched.add(root)
            buckets.append(root)
            continue
        nodes = py_nodes(row)
        # TRUE chain length, not len(nodes): slim() caps the node list at
        # max_depth, and a member deeper than the cap must take the safety
        # valve (uncounted cap-node assignment), matching the distributed
        # cascade — not the terminal branch.
        m = int(row["_m"])
        multi = bool(row["_multi"])
        seq = int(row[seq_col])
        j = max(level, 1)
        bucket: str | None = None
        while True:
            if j > max_depth:
                bucket = nodes[max_depth - 1]  # safety valve, uncounted
                break
            node = nodes[j - 1]
            if node not in counters:
                # fresh node: create (relation from chain predecessor) and
                # place, consuming one counter slot — terminal or not
                counters[node] = 1
                touched.add(node)
                parent = nodes[j - 2] if j >= 2 else root
                relations.append(
                    (parent, "Substring", node, node.split(sep), None, seq)
                )
                bucket = node
                break
            if j == m:  # terminal on an existing node
                bucket = None if multi else node  # uncounted
                break
            if counters[node] < page_size:
                counters[node] += 1
                touched.add(node)
                bucket = node
                break
            j += 1
        buckets.append(bucket)
    return buckets, relations, touched


# name of the seeded root inside a grouped walk: mapped back to the trie's
# root (per parent: the bare parent id) before any row leaves the group,
# so it never crosses the Arrow transfer, and it can never equal a node
# ('\x00' never appears in a normalized value or a dash-joined token key;
# a parent named like a node, e.g. basic page "0" over token values, must
# not capture that node's subtree)
_WALK_ROOT = "\x00root"


def _grouped_walk(
    remaining: DataFrame,
    chain: _Chain,
    *,
    level: int,
    page_size: int,
    root: str,
    seq_col: str,
    max_depth: int,
    state: DataFrame | None = None,
    parent_col: str | None = None,
) -> DataFrame:
    """Grouped exact walk: key the still-unplaced rows by their level-L
    candidate node and run the sequential reference walk per group in
    applyInPandas. Correct because ALL capacity interactions at chain
    levels >= L happen strictly within the subtrie under each level-L
    node (a node's arrivals all share its level-L prefix), and arrivals
    at the level-L nodes themselves are exactly these rows. One shuffle
    for the entire remaining trie. Returns a kinds frame (kind 'a'
    assignment / 'r' relation / 'c' counter), lineage-truncated.

    With ``parent_col`` the key is (parent, level-L node) — one dedicated
    child-trie subtree per parent bucket (MultiBucketizer.ts:94-96) — and
    emitted names are mapped ``parent/node`` with the child root
    collapsing onto the parent; counter rows are keyed ``parent\x1fnode``
    (_PSEP) and the parent root's own counter by the bare parent id. At
    ``level`` 0 (per parent only) the key is the parent alone and each
    group walks its whole child trie from the seeded root.

    With ``state`` (streaming: carried node counters ``_st_node/_st_cnt``),
    each counter row is cogrouped into the group whose walk consults it —
    a node at chain level >= L into its level-L ancestor's group, a root
    counter only into a walk that starts at the root — so existing nodes
    never re-create and their remaining capacity is page_size - cnt.

    The per-group walk is the reference's inherently sequential semantics;
    the heavy lifting (normalize, chain prep, payload movement) stays
    JVM-side on the slim working set. The hottest level-L prefix is one
    task — lower ``tail_threshold`` so more levels run distributed and
    salted before the handoff."""
    import pandas as pd

    cols = [seq_col, "bucket_id", "kind", "from_bucket", "vals", "cnt"]
    out_schema = (
        f"{seq_col} long, bucket_id string, kind string, "
        "from_bucket string, vals array<string>, cnt long"
    )
    pcols = [parent_col] if parent_col else []

    def walk_frame(pdf: pd.DataFrame, counters: dict) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame(columns=cols)
        records = pdf.sort_values(seq_col).to_dict("records")
        buckets, relations, touched = _walk(
            records, chain.py_nodes, chain.sep, level, page_size, _WALK_ROOT,
            seq_col, max_depth, counters,
        )
        parent = str(records[0][parent_col]) if parent_col else None

        def name(n, sep="/"):
            # per parent, nodes are prefixed parent/ — counter keys use the
            # split-safe _PSEP, as parent ids may themselves contain '/'
            if n == _WALK_ROOT:
                return root if parent is None else parent
            return n if parent is None else f"{parent}{sep}{n}"

        rows = [
            (r[seq_col], None if b is None else name(b), "a", None, None, None)
            for r, b in zip(records, buckets)
        ]
        rows += [
            (seq, name(to), "r", name(frm), vals, None)
            for frm, _typ, to, vals, _path, seq in relations
        ]
        rows += [
            (None, name(n, _PSEP), "c", None, None, counters[n]) for n in touched
        ]
        return pd.DataFrame(rows, columns=cols)

    keyed = remaining.groupBy(
        *pcols, *([chain.node(level).alias("_g")] if level else [])
    )
    if state is None:

        def walk_group(pdf: pd.DataFrame) -> pd.DataFrame:
            return walk_frame(pdf, {})

        return keyed.applyInPandas(walk_group, out_schema).transform(cut_lineage)

    # carried counters: a root counter (the ROOT_COUNTER_KEY row; per parent,
    # a bare parent id) becomes a NULL node, every other row its node name
    # (per parent split off its parent\x1fnode key)
    node = F.col("_st_node")
    if parent_col is None:
        st = state.select(
            F.when(node != ROOT_COUNTER_KEY, node).alias("_st_node"), "_st_cnt"
        )
    else:
        owned = node.contains(_PSEP)
        st = state.select(
            F.substring_index(node, _PSEP, 1).alias(parent_col),
            F.when(owned, F.substring_index(node, _PSEP, -1)).alias("_st_node"),
            "_st_cnt",
        )
    if level:
        st = st.where(
            node.isNotNull() & (chain.node_level_of(node) >= level)
        ).withColumn("_g", chain.node_prefix_of(node, level))

    def walk_cogroup(rows_pdf: pd.DataFrame, st_pdf: pd.DataFrame) -> pd.DataFrame:
        counters = {
            _WALK_ROOT if pd.isna(n) else n: int(c)
            for n, c in zip(st_pdf["_st_node"], st_pdf["_st_cnt"])
        }
        return walk_frame(rows_pdf, counters)

    return (
        keyed.cogroup(st.groupBy(*pcols, *(["_g"] if level else [])))
        .applyInPandas(walk_cogroup, out_schema)
        .transform(cut_lineage)
    )


def _run_cascade(
    df: DataFrame,
    chain: _Chain,
    *,
    page_size: int,
    root: str,
    seq_col: str,
    max_depth: int,
    node_state: DataFrame | None = None,
    emit_counter_updates: bool = False,
    salt_buckets: int = 0,
    tail_threshold: int = 100_000,
    parent_col: str | None = None,
) -> BucketizeResult:
    """Run the cascade; ``node_state`` (node string, cnt long) carries trie
    counters from previous micro-batches for the incremental streaming path
    (an existing node never re-emits its creation relation, its remaining
    capacity is page_size - cnt, and chain-exhausted multi-word members get
    no bucket even as first in-batch arrivals). With
    ``emit_counter_updates`` the result carries a ``counter_updates``
    DataFrame (node, cnt) of post-batch totals for all touched nodes; the
    global root's row is keyed ``ROOT_COUNTER_KEY``, never its name.

    Each distributed level places members with the salted two-phase
    threshold (``salt_buckets`` salts, ``DEFAULT_SALT_BUCKETS`` when 0 —
    the count only changes how a hot node's rows spread over tasks, never
    the placement). Once at most ``tail_threshold`` rows remain, one
    grouped walk shuffle finishes the trie (``tail_threshold=0`` keeps
    every level distributed; the default hands small inputs to the walk
    from level 1, per parent from the parent roots).

    With ``parent_col`` every level is keyed by (parent, node): a dedicated
    child-trie instance per parent bucket (MultiBucketizer.ts:94-96) whose
    root collapses onto the parent itself and whose node names map to
    ``parent/node`` (mapTerm, ts:123-141). Above ``tail_threshold``
    members this is the scale path for giant low-cardinality parents —
    no single task ever holds a whole parent; the hot (parent, node)
    pairs are defused by the same salted two-phase placement as the
    standalone trie. Carried node state
    composes with ``parent_col`` for the streaming per-parent child
    (TrieStage under compose_streams): state keys are ``parent\\x1fnode``
    (parent ids may contain '/', so the prefixed display name is not
    split-safe) and the parent root's own counter is keyed by the bare
    parent id."""
    spark = df.sparkSession
    pcols = [parent_col] if parent_col else []
    nsalt = salt_buckets or DEFAULT_SALT_BUCKETS
    # the cascade runs on a SLIM working set — seq + capped chain columns —
    # so per-level shuffles and hot-node sorts never carry the payload;
    # the payload is joined back onto the (seq, bucket_id) map at the end
    slim_in = df.select(seq_col, *pcols, *chain.input_cols)
    # materialize the slim working set ONCE (r7): every cascade phase —
    # the root count, the root-threshold head, the walk/level shuffles
    # and the final assignment union — consumes `work`, and without a
    # cut each action re-evaluates the whole normalize+chain prep over
    # the corpus (measured 3-4 evaluations ≈ 3-4× the prep cost per
    # query at sf1.0). One eager cut pays the prep exactly once, and it
    # observes the non-empty member count the root level needs.
    work, total_work = cut_lineage_counted(
        chain.slim(chain.prepare(slim_in)), F.col("_m") > 0
    )

    assignment_parts: list[DataFrame] = []
    relation_parts: list[DataFrame] = []
    counter_parts: list[DataFrame] = []

    state = node_state
    if state is not None:
        state = state.select(
            F.col("node").alias("_st_node"), F.col("cnt").alias("_st_cnt")
        )

    # ---- empty-value edge (SubstringBucketizer.ts:80-86 with zero
    # characters): a truly empty SINGLE-word value is pushed as bucket ''
    # (the exhausted-single-word fallthrough with substring=''); a MULTI-word
    # value normalizing to only separators (e.g. '- -' → '++') exhausts its
    # chain without the single-word push → NO bucket (NULL).
    empty_bucket = (
        F.concat(F.col(parent_col), F.lit("/")) if parent_col else F.lit("")
    )
    empties = work.where(F.col("_m") == 0)
    work = work.where(F.col("_m") > 0)
    assignment_parts.append(
        empties.select(
            seq_col,
            F.when(F.col("_multi"), F.lit(None).cast("string"))
            .otherwise(empty_bucket)
            .alias("bucket_id"),
        )
    )

    if parent_col is not None and total_work <= tail_threshold:
        # ---- the handoff rule below, one level earlier: with at most
        # tail_threshold members in all, one grouped walk keyed by the
        # parent alone runs every child trie from its seeded root (the
        # loop's first pass is level 0)
        remaining, remaining_cnt, level = work, total_work, -1
    elif parent_col is not None:
        # ---- level 0 per parent: each parent bucket is its own seeded
        # child root with page_size capacity. Per-parent top-K by seq via
        # the salted two-phase threshold (each (parent, salt) group
        # contributes at most page_size candidate seqs; the merge handles
        # ≤ nsalt·page_size values per parent) — a giant parent is never
        # sorted in one task.
        cand = work.groupBy(
            parent_col,
            F.pmod(F.hash(F.col(seq_col)), F.lit(nsalt)).alias("_salt"),
        ).agg(
            F.slice(
                F.array_sort(F.collect_list(F.col(seq_col))), 1, page_size
            ).alias("_cand"),
            F.count(F.lit(1)).alias("_n"),
        )
        merged = cand.groupBy(parent_col).agg(
            F.array_sort(F.flatten(F.collect_list("_cand"))).alias("_merged"),
            F.sum("_n").alias("_ptotal"),
        )
        # carried parent-root counters (streaming): keyed by the bare
        # parent id; an absent row means a fresh (seeded) child root with
        # full page_size capacity — exactly the batch semantics
        if state is not None:
            merged = merged.join(
                F.broadcast(state),
                merged[parent_col] == state["_st_node"],
                "left",
            ).drop("_st_node")
        else:
            merged = merged.withColumn("_st_cnt", F.lit(None).cast("long"))
        rcap = F.greatest(
            F.lit(page_size) - F.coalesce(F.col("_st_cnt"), F.lit(0)),
            F.lit(0),
        )
        thr_df = merged.select(
            parent_col,
            F.coalesce(F.col("_st_cnt"), F.lit(0)).alias("_rcnt"),
            rcap.alias("_rcap"),
            # strict: when the merged candidate list holds exactly rcap
            # seqs the true group may be larger (every salt bucket
            # capped), so take element_at(rcap) as the threshold —
            # identical result in the legitimate all-fit case. rcap <=
            # page_size always, so 'rcap > size' with a truncated merge
            # list is impossible (truncation implies size >= page_size).
            F.when(rcap <= 0, F.lit(None).cast("long"))
            .when(rcap > F.size("_merged"), F.lit(None).cast("long"))
            .otherwise(F.element_at("_merged", rcap.cast("int")))
            .alias("_rthr"),
            # seq is unique, so the parent root places exactly
            # min(rcap, members) rows; its first member (the merged
            # list's head) carries the post-batch counter
            F.least(rcap, F.col("_ptotal")).alias("_rplaced"),
            F.element_at("_merged", 1).alias("_rmin"),
        )
        placed0_cond = (F.col("_rcap") > 0) & (
            F.col("_rthr").isNull() | (F.col(seq_col) <= F.col("_rthr"))
        )
        # thr_df is one row per distinct parent — broadcast (the cascade
        # path targets few giant parents; high-cardinality parents belong
        # on the per-group walk, where groups are small)
        work, remaining_cnt = cut_lineage_counted(
            work.join(F.broadcast(thr_df), parent_col, "left"), ~placed0_cond
        )
        placed0 = work.where(placed0_cond)
        assignment_parts.append(
            placed0.select(seq_col, F.col(parent_col).alias("bucket_id"))
        )
        if emit_counter_updates:
            counter_parts.append(
                work.where(
                    (F.col(seq_col) == F.col("_rmin")) & (F.col("_rplaced") > 0)
                ).select(
                    F.col(parent_col).alias("node"),
                    (F.col("_rcnt") + F.col("_rplaced")).alias("cnt"),
                )
            )
        remaining = work.where(~placed0_cond).drop(
            "_rthr", "_rcap", "_rcnt", "_rplaced", "_rmin"
        )
        level = 0
    else:
        # ---- level 0: the root. Global top-(remaining capacity) by seq — a
        # threshold, not a single-partition window (scale: O(N) scan + tiny
        # sort of K rows). Root counter is seeded (SubstringBucketizer.ts:30-31)
        # so the root never "creates" and never emits a relation.
        root_cnt = 0
        if state is not None:
            row = state.where(F.col("_st_node") == ROOT_COUNTER_KEY).collect()
            root_cnt = row[0]["_st_cnt"] if row else 0
        root_cap = max(page_size - root_cnt, 0)
        thr = None
        if root_cap > 0 and total_work > 0:
            head = (
                work.select(seq_col).orderBy(seq_col).limit(root_cap)
                .agg(F.max(seq_col).alias("thr"))
                .collect()
            )
            thr = head[0]["thr"] if head else None
        if thr is not None:
            placed0 = work.where(F.col(seq_col) <= F.lit(thr))
            assignment_parts.append(
                placed0.select(seq_col, F.lit(root).alias("bucket_id"))
            )
            remaining = work.where(F.col(seq_col) > F.lit(thr))
        else:
            remaining = work
        # no job needed: seq is unique, so the root places exactly
        # min(root_cap, total_work) rows (none when thr is None: then
        # root_cap or total_work is 0)
        root_placed = min(root_cap, total_work)
        if emit_counter_updates and root_cnt + root_placed:
            counter_parts.append(
                const_frame(
                    spark, COUNTER_SCHEMA, (ROOT_COUNTER_KEY, root_cnt + root_placed)
                )
            )
        level = 0
        remaining_cnt = total_work - root_placed
    while True:
        level += 1
        if remaining_cnt == 0:
            break
        if level > max_depth:
            # safety valve (engine knob; the reference has no cap): force-
            # assign whatever is left to its current node, uncounted
            valve_node = child_id(chain.node(level - 1), parent_col)
            assignment_parts.append(
                remaining.withColumn("bucket_id", valve_node)
                .select(seq_col, "bucket_id")
            )
            break
        if remaining_cnt <= tail_threshold:
            # ---- grouped subtrie finisher: the still-contended rows shrink
            # fast (each level places page_size rows per node); once they
            # fit a per-group pandas walk, finish the WHOLE remaining trie
            # with ONE applyInPandas shuffle instead of one Spark job per
            # remaining level. All deeper nodes are touched ONLY by these
            # rows, so the handoff from the distributed levels is exact.
            walked = _grouped_walk(
                remaining,
                chain,
                level=level,
                page_size=page_size,
                root=root,
                seq_col=seq_col,
                max_depth=max_depth,
                state=state,
                parent_col=parent_col,
            )
            assignment_parts.append(
                walked.where(F.col("kind") == "a").select(seq_col, "bucket_id")
            )
            relation_parts.append(
                walked.where(F.col("kind") == "r").select(
                    F.col("from_bucket"),
                    F.lit("Substring").alias("relation_type"),
                    F.col("bucket_id").alias("to_bucket"),
                    F.col("vals").alias("values"),
                    F.lit(None).cast("string").alias("path"),
                    F.col(seq_col).alias("created_at_seq"),
                )
            )
            if emit_counter_updates:
                counter_parts.append(
                    walked.where(F.col("kind") == "c").select(
                        F.col("bucket_id").alias("node"), F.col("cnt")
                    )
                )
            break

        lvl = remaining.withColumn("_node", chain.node(level)).withColumn(
            "_terminal", F.col("_m") == level
        )
        # ---- salted placement (north_rule skew defusal): capacity
        # placement only needs each node's cap-th smallest NT seq. Phase A
        # sorts within (node, salt) groups — a hot node's rows are split
        # over nsalt tasks, each contributing at most page_size candidate
        # seqs; phase B merges ≤ nsalt·page_size values per node. No
        # per-node total sort anywhere, and the merge is exact for any
        # salt count (a partial top-k merge).
        salted = lvl.withColumn(
            "_salt", F.pmod(F.hash(F.col(seq_col)), F.lit(nsalt))
        )
        nt_seq = F.when(~F.col("_terminal"), F.col(seq_col))
        phase_a = salted.groupBy(*pcols, "_node", "_salt").agg(
            F.slice(
                F.array_sort(
                    F.collect_list(nt_seq)
                ),
                1,
                page_size,
            ).alias("_cand"),
            F.min(seq_col).alias("_lmin"),
            F.min_by("_terminal", F.col(seq_col)).alias("_lterm"),
            F.sum((~F.col("_terminal")).cast("long")).alias("_lnt"),
        )
        phase_b = phase_a.groupBy(*pcols, "_node").agg(
            F.array_sort(F.flatten(F.collect_list("_cand"))).alias("_merged"),
            F.min("_lmin").alias("_min_seq"),
            F.min_by("_lterm", F.col("_lmin")).alias("_first_term"),
            F.sum("_lnt").alias("_nt_total"),
        )
        if state is not None:
            pb_key = (
                F.concat(F.col(parent_col), F.lit(_PSEP), F.col("_node"))
                if parent_col
                else phase_b["_node"]
            )
            phase_b = phase_b.join(
                state, pb_key == state["_st_node"], "left"
            ).drop("_st_node")
        else:
            phase_b = phase_b.withColumn(
                "_st_cnt", F.lit(None).cast("long")
            )
        exists = F.col("_st_cnt").isNotNull()
        agg_cap = F.when(
            exists,
            F.greatest(F.lit(page_size) - F.col("_st_cnt"), F.lit(0)),
        ).otherwise(
            F.when(~F.col("_first_term"), F.lit(page_size)).otherwise(
                F.lit(page_size - 1)
            )
        )
        node_aggs = phase_b.select(
            *pcols,
            "_node",
            "_min_seq",
            "_first_term",
            "_nt_total",
            "_st_cnt",
            agg_cap.alias("_cap_nt"),
            F.when(
                agg_cap <= 0, F.lit(-1)
            )
            .when(
                # strict: size == cap may mean every salt bucket was
                # capped; element_at(cap) is still the right threshold
                agg_cap > F.size("_merged"),
                F.lit(None).cast("long"),  # all NTs fit
            )
            .otherwise(F.element_at("_merged", agg_cap.cast("int")))
            .alias("_nt_thr"),
        )
        if emit_counter_updates:
            # post-batch node count: carried + placed non-terminals
            # (seq is unique, so exactly min(total, cap) of them) + the
            # creating first arrival when it is terminal
            node_aggs = node_aggs.withColumn(
                "_cnt",
                F.coalesce(F.col("_st_cnt"), F.lit(0))
                + F.least(
                    F.col("_nt_total"), F.greatest(F.col("_cap_nt"), F.lit(0))
                )
                + (~exists & F.col("_first_term")).cast("long"),
            )

        step = lvl.join(node_aggs, [*pcols, "_node"])
        placed_nt = ~F.col("_terminal") & (
            F.col("_nt_thr").isNull()
            | (F.col(seq_col) <= F.col("_nt_thr"))
        )
        is_first = F.col(seq_col) == F.col("_min_seq")
        raw_parent = chain.parent_of(F.col("_node"))
        relation_parent = F.when(
            raw_parent == "", root_id(root, parent_col)
        ).otherwise(child_id(raw_parent, parent_col))

        # the eager cut truncates the per-level lineage — without it the
        # level-over-level plan (esp. the salted level's self-join) grows
        # exponentially and OOMs the planner — and its job observes how
        # many rows cascade to the next level
        step, remaining_cnt = cut_lineage_counted(
            step, ~F.col("_terminal") & ~placed_nt
        )
        # terminal arrivals: on a fresh node the first one creates+counts;
        # all later single-word terminals are assigned uncounted
        # (SubstringBucketizer.ts:88-93) and later multi-word terminals get
        # NO bucket (ts:80-86). On an existing node no arrival creates.
        term_assigned = F.col("_terminal") & (
            F.when(exists, ~F.col("_multi")).otherwise(
                is_first | ~F.col("_multi")
            )
        )
        term_null = F.col("_terminal") & ~term_assigned
        bucket_name = child_id(F.col("_node"), parent_col)
        leaving = step.where(placed_nt | F.col("_terminal"))
        assignment_parts.append(
            leaving.select(
                seq_col,
                F.when(term_null, F.lit(None).cast("string"))
                .otherwise(bucket_name)
                .alias("bucket_id"),
            )
        )
        relation_parts.append(
            step.where(is_first & ~exists).select(
                *relation_row(
                    relation_parent,
                    "Substring",
                    bucket_name,
                    values=F.split(F.col("_node"), f"[{chain.sep}]"),
                    seq=F.col(seq_col),
                )
            )
        )
        if emit_counter_updates:
            counter_key = (
                F.concat(F.col(parent_col), F.lit(_PSEP), F.col("_node"))
                if parent_col
                else F.col("_node")
            )
            counter_parts.append(
                step.where(is_first).select(
                    counter_key.alias("node"), F.col("_cnt").alias("cnt")
                )
            )
        # drop this level's helper columns; the chain columns and the
        # parent column (which may itself start with '_') ride on
        keep = ("_v", "_npos", "_m", "_multi", *pcols, *chain.input_cols)
        drop_cols = [c for c in step.columns if c.startswith("_") and c not in keep]
        remaining = step.where(~F.col("_terminal") & ~placed_nt).drop(*drop_cols)

    bucket_map = assignment_parts[0]
    for part in assignment_parts[1:]:
        bucket_map = bucket_map.unionByName(part)
    # payload join: exactly one bucket row per input row (NULL bucket for
    # the exhausted multi-word terminals)
    assignments = df.join(bucket_map, seq_col, "inner")
    relations = (
        empty_relations(spark)
        if not relation_parts
        else relation_parts[0]
    )
    for part in relation_parts[1:]:
        relations = relations.unionByName(part)

    result = BucketizeResult(assignments, relations, empty_seals(spark))
    if emit_counter_updates:
        updates = (
            counter_parts[0] if counter_parts else const_frame(spark, COUNTER_SCHEMA)
        )
        for part in counter_parts[1:]:
            updates = updates.unionByName(part)
        result.counter_updates = updates
    return result


def substring_trie(
    df: DataFrame,
    value_col: str,
    *,
    page_size: int = 50,
    root: str = "root",
    seq_col: str = "seq",
    max_depth: int = 64,
    ascii_fast: bool = True,
    node_state: DataFrame | None = None,
    emit_counter_updates: bool = False,
    salt_buckets: int = 0,
    tail_threshold: int = 100_000,
    parent_col: str | None = None,
) -> BucketizeResult:
    """Character-mode substring trie (reference-exact). Salted levels run
    until at most ``tail_threshold`` rows remain, then one grouped walk
    shuffle finishes the trie; with ``node_state`` the walk cogroups the
    carried counters into their subtrie groups (streaming). With
    ``parent_col`` one dedicated trie per parent bucket (see
    ``_run_cascade``); the parent is then the root and ``root`` is
    unused."""
    return _run_cascade(
        df,
        _char_chain(value_col, ascii_fast, max_depth),
        page_size=page_size,
        root=root,
        seq_col=seq_col,
        max_depth=max_depth,
        node_state=node_state,
        emit_counter_updates=emit_counter_updates,
        salt_buckets=salt_buckets,
        tail_threshold=tail_threshold,
        parent_col=parent_col,
    )


def token_prefix_trie(
    df: DataFrame,
    tokens_col: str = "tokens",
    *,
    page_size: int = 50,
    root: str = "root",
    seq_col: str = "seq",
    max_depth: int = 8,
    node_state: DataFrame | None = None,
    emit_counter_updates: bool = False,
    salt_buckets: int = 0,
    tail_threshold: int = 100_000,
    parent_col: str | None = None,
) -> BucketizeResult:
    """Token-mode radix trie over leading n-grams (the north-star payload:
    pre-tokenized sequences). Same cascade, chain keys are dash-joined
    token prefixes, capped at ``max_depth`` n-grams; ``parent_col`` as
    in ``substring_trie``."""
    return _run_cascade(
        df,
        _token_chain(tokens_col, max_depth),
        page_size=page_size,
        root=root,
        seq_col=seq_col,
        max_depth=max_depth,
        node_state=node_state,
        emit_counter_updates=emit_counter_updates,
        salt_buckets=salt_buckets,
        tail_threshold=tail_threshold,
        parent_col=parent_col,
    )
