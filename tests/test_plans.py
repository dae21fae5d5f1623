"""Physical-plan assertions: the 100 TB posture, enforced in CI.

Correctness tests prove the operators compute the right answer at small
SF; these prove the PLANS are the ones that survive a 1000× scale-up:
filters and projections reach the parquet scan, dimensions broadcast
instead of shuffling the fact table, candidate-generation joins never
degenerate into cartesian products, and aggregation is map-side partial.
A regression that flips one of these (e.g. a lost broadcast hint, a
filter hidden behind a UDF) changes no answers at sf0.001 — only these
tests catch it before it becomes a 100× slowdown at scale.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from cqlcopy_spark.plans.registry import all_queries
from tests.conftest import SF_MEDIUM, SF_SMALL

QUERIES = all_queries()
#: the checkout's own driver entry module, whichever directory holds it
_ENTRY = str(Path(__file__).resolve().parents[1] / "__spark_entry__.py")


def plan_of(df) -> str:
    """Formatted physical plan (pre-execution; AQE initial plan)."""
    jqe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return jqe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_reaches_parquet(spark):
    p = plan_of(QUERIES["filter_predicate"](spark, SF_SMALL))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m and "l_quantity" in m.group(1) and "l_discount" in m.group(1), p
    # column pruning: the scan must read only the 6 referenced columns
    rs = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert rs and len(rs.group(1).split(",")) == 6, p


def shuffle_exchanges(p: str) -> int:
    """Count shuffle Exchange nodes in a formatted plan tree (excludes
    BroadcastExchange)."""
    return len(re.findall(r"(?<!Broadcast)Exchange \(", p))


def test_star_join_broadcasts_dims(spark):
    p = plan_of(QUERIES["join_star"](spark, SF_SMALL))
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "CartesianProduct" not in p, p
    # the fact table is never shuffled for a dim lookup: at most ONE
    # shuffle join (lineitem ⋈ orders; at tiny SF even that broadcasts)
    shuffle_joins = p.count("SortMergeJoin") + p.count("ShuffledHashJoin")
    assert shuffle_joins <= 1, p


def test_agg_is_partial_then_final(spark):
    p = plan_of(QUERIES["agg_pricing_summary"](spark, SF_SMALL))
    assert p.count("HashAggregate") >= 2, p  # map-side partial + final


def test_topk_global_avoids_global_sort(spark):
    p = plan_of(QUERIES["topk_global"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in p, p
    assert "Sort (" not in p, p  # per-partition heaps, not a global sort


def test_sort_global_uses_range_partitioning(spark):
    p = plan_of(QUERIES["sort_global"](spark, SF_SMALL))
    assert "rangepartitioning" in p, p  # sampled bounds, ordered partitions


def test_scalar_funcs_is_single_stage_map(spark):
    p = plan_of(QUERIES["scalar_funcs"](spark, SF_SMALL))
    assert "Exchange" not in p, p
    assert "codegen id" in p, p  # whole-stage codegen spans the projection


@pytest.mark.parametrize(
    "name",
    ["dedup_fuzzy_minhash", "dedup_ngram_jaccard", "dedup_simhash", "join_range",
     "dedup_incremental"],
)
def test_candidate_joins_never_cartesian(spark, name):
    """LSH/banding/bucketing exists to avoid all-pairs work; a join-key
    regression would silently turn these into cross joins."""
    p = plan_of(QUERIES[name](spark, SF_SMALL))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_semi_anti_join_shapes(spark):
    p = plan_of(QUERIES["join_semi_anti"](spark, SF_SMALL))
    assert "LeftSemi" in p and "LeftAnti" in p, p


def test_window_ops_single_exchange(spark):
    """window_running: four window functions over one window spec must
    share ONE shuffle on the partition key."""
    p = plan_of(QUERIES["window_running"](spark, SF_SMALL))
    assert shuffle_exchanges(p) == 1, p
    assert p.count("Window (") == 1, p  # one Window operator serves all four


def test_trend_single_aggregation_exchange(spark):
    """timeseries_trend: five ordered-fold moments in ONE grouped
    aggregation — one user_id exchange plus the final tiny orderBy."""
    p = plan_of(QUERIES["timeseries_trend"](spark, SF_SMALL))
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert node not in p, p
    assert shuffle_exchanges(p) <= 2, p


def test_event_transitions_one_raw_exchange(spark):
    """event_transitions: the raw event volume passes exactly one
    exchange (the user timeline window); everything after operates on
    the |types|^2 transition matrix."""
    p = plan_of(QUERIES["event_transitions"](spark, SF_SMALL))
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p
    assert p.count("Window (") == 3, p  # lead + total + rank
    assert shuffle_exchanges(p) <= 4, p  # user window, (src,dst) agg, src window, orderBy


def test_feature_hash_all_jvm_two_shuffles(spark):
    """embed_feature_hash: token fold, bucketing, and vector assembly
    are all JVM expressions — no Python stage — over two key-compatible
    hash aggregations."""
    p = plan_of(QUERIES["embed_feature_hash"](spark, SF_SMALL))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "MapInPandas" not in p, p
    assert shuffle_exchanges(p) <= 2, p  # (doc,bucket) agg + doc agg


def test_cdc_changelog_single_fold_no_window_no_join(spark):
    """cdc_apply_changelog resolves base + changelog with ONE
    partial-combining fold over the merge key (keep_min_by, the
    last-writer-wins fold the cdc sink shares) — no window, which would
    funnel a hot key's versions into one task, and no join, which would
    shuffle twice and re-execute the base lineage per side."""
    p = plan_of(QUERIES["cdc_apply_changelog"](spark, SF_SMALL))
    for node in ("Window", "SortMergeJoin", "ShuffledHashJoin",
                 "BroadcastHashJoin", "CartesianProduct"):
        assert node not in p, p
    assert p.count("partial_min(") >= 1, p  # partials combine map-side
    assert shuffle_exchanges(p) == 1, p  # the key fold; union is narrow


def test_sample_per_group_prefilters_before_window(spark):
    """sample_per_group: the group-count table broadcasts and the hash
    threshold filters BEFORE the rank window — the corpus must never be
    shuffled wholesale into per-group sorts."""
    p = plan_of(QUERIES["sample_per_group"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    # the tok < tau filter must sit below the window (only survivors sort)
    assert p.index("Filter") < p.index("Window"), p


def test_token_budget_prefilters_before_window(spark):
    """token_budget_select (r10 VERDICT `weak` → r11 fix): the exact
    per-lang admission window must sort only cutoff survivors — the
    per-(lang, n_chars) histogram derives each language's cutoff, the
    one-row-per-lang cutoff table broadcasts, and the n_chars >= cutoff
    filter sits BELOW the final window, so the corpus is never shuffled
    wholesale into one sort run per language. The exact kernel keeps its
    ROWS frame (a RANGE frame shares cumulative values across
    equal-quality runs — CLAUDE.md) and nothing sorts globally."""
    import inspect

    from cqlcopy_spark.operators.curation import _token_budget_kernel

    assert "rowsBetween" in inspect.getsource(_token_budget_kernel)
    p = plan_of(QUERIES["token_budget_select"](spark, SF_SMALL))
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "rangepartitioning" not in p.lower(), p
    # three exchanges, ALL bounded: histogram groupBy (∝ distinct
    # lengths), histogram window (same rows), survivor window (~budget
    # rows per lang) — the full corpus reaches none of them unfiltered
    assert shuffle_exchanges(p) == 3, p
    details = re.findall(r"\(\d+\) (\w+)", p)
    # exactly two windows: the tiny histogram cumulative + the exact kernel
    assert details.count("Window") == 2, details
    assert details.count("BroadcastHashJoin") == 1, details
    # the tree renders top-down: the OUTER (kernel) Window line precedes
    # the broadcast join that feeds it — prefilter strictly below window
    assert p.index("Window") < p.index("BroadcastHashJoin"), p
    # the tokenized intermediate is persisted, not re-derived per side
    assert "InMemoryRelation" in p, p


def test_winsorize_single_exchange_no_join(spark):
    """winsorize_stats: rank window, cutoff windows, and the final
    aggregate all share ONE event_type exchange; a groupBy+join-back
    for the cutoffs would double-execute the window lineage."""
    p = plan_of(QUERIES["winsorize_stats"](spark, SF_SMALL))
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert node not in p, p
    # one hash exchange on event_type + the final tiny orderBy range
    assert shuffle_exchanges(p) <= 2, p


def test_contamination_substring_broadcasts_eval_set(spark):
    """The exact-substring contamination check must broadcast the bench
    (eval-set) windows — shuffling the 100 TB corpus side for this join
    is the failure mode, and a window-key equi-join must never
    degenerate into a nested-loop."""
    p = plan_of(QUERIES["contamination_substring"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_gapfill_linear_lineage_no_join_no_sort(spark):
    """timeseries_gapfill is the lead-explode formulation: ONE linear
    lineage (agg shuffle + window shuffle), no join back onto the spine,
    no InMemoryRelation branch, and no global range sort of the grid —
    the r04 bench regression came from the spine-join plan's extra
    exchanges and presentation-only sort."""
    p = plan_of(QUERIES["timeseries_gapfill"](spark, SF_SMALL))
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "CartesianProduct", "InMemoryRelation", "rangepartitioning"):
        assert node not in p, p
    assert shuffle_exchanges(p) == 2, p  # hash agg + lead window, nothing else
    assert "Generate" in p, p  # the explode producing gap rows


def test_partitioned_scan_prunes_directories(spark):
    p = plan_of(QUERIES["partitioned_scan_prune"](spark, SF_SMALL))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m and "purchase" in m.group(1), p


def test_asof_join_single_shuffle_no_join_operator(spark):
    """The as-of join is the union+window formulation: no join node at
    all, one hash exchange on user_id."""
    p = plan_of(QUERIES["join_asof"](spark, SF_SMALL))
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p
    assert shuffle_exchanges(p) <= 2, p  # dedup window + asof window


def test_q6_is_scan_plus_partial_aggregate(spark):
    """Q6 is the pure-scan benchmark: every predicate must reach the
    parquet scan and the global aggregate must be partial-then-final
    (shuffle ∝ partitions, not rows). No join node anywhere."""
    p = plan_of(QUERIES["agg_q6_forecast"](spark, SF_SMALL))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m and "l_shipdate" in m.group(1) and "l_quantity" in m.group(1), p
    assert p.count("HashAggregate") >= 2, p
    assert "Join" not in p, p


def test_stream_static_join_dehinted_still_broadcasts(spark):
    """r10: the last SF-scaling hint site (streaming/windows.py hinted
    the full customer dim). Dehinted, the stats pick must still be a
    broadcast at bench SF, with the shuffle-join flip (not an abort)
    available past the ceiling."""
    import inspect

    from cqlcopy_spark.streaming.windows import _static_join_agg

    assert "broadcast(" not in inspect.getsource(_static_join_agg)
    p = plan_of(QUERIES["stream_static_join"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p


def test_no_direct_sf_scaling_table_hints_anywhere():
    """Package-wide regrow guard for the hint class rounds 7-10 deleted:
    no module may broadcast-hint a DIRECT load of an SF-scaling table
    (catalog.SF_SCALING_DIMS — part/supplier/customer). Derived frames
    still need per-module judgment (the pins above/below), but this
    form — the way every one of the ~20 deleted hints started — is
    machine-checkable exactly."""
    import re as _re
    from pathlib import Path

    import cqlcopy_spark
    from cqlcopy_spark.catalog import SF_SCALING_DIMS

    pkg = Path(cqlcopy_spark.__file__).parent
    pat = _re.compile(
        r"broadcast\(\s*table\(spark,\s*sf_dir,\s*\"(\w+)\"", _re.S
    )
    hits = []
    for py in pkg.rglob("*.py"):
        for m in pat.finditer(py.read_text()):
            if m.group(1) in SF_SCALING_DIMS:
                hits.append(f"{py}:{m.group(1)}")
    assert not hits, hits


def test_tpch_no_sf_scaling_broadcast_hints():
    """r9 VERDICT item 1: the TPC-H modules carry NO broadcast hint on
    any SF-scaling relation (part/supplier/customer slices, joined dim
    blocks). An explicit hint is honored unconditionally and aborts at
    the 8 GB broadcast ceiling at production SF — the stats/AQE planner
    picks the same BHJ while the side fits (pinned below) and degrades
    to a shuffle join past it. Only fixed-size targets may be hinted:
    the 25-row nation table, nation⋈region prunes, and 1-row aggregates
    (Q11's global total, Q15's MAX).

    AST-based (review finding): a regex over module source both misfires
    on docstring prose and misses a REBOUND whitelisted name. Here every
    broadcast() call's argument is resolved structurally, and a hinted
    bare name must also have every module-level/function-level binding
    derive from a fixed-size source (the nation table, a nation⋈region
    prune, or a .agg() scalar) — rebinding `nat` to a supplier slice
    fails the guard."""
    import ast
    import inspect

    from cqlcopy_spark.operators import tpch_deep, tpch_full

    # ast.unparse renders string literals with SINGLE quotes
    def _table_loads(rhs: str) -> set:
        """Every quoted table name fed to a table() load anywhere in the
        expression — a SUBSTRING match would bless
        table(..., 'supplier').join(broadcast(table(..., 'nation')), …)
        because 'nation' appears somewhere (r10 ADVICE)."""
        loads = set()
        for node in ast.walk(ast.parse(rhs, mode="eval")):
            if isinstance(node, ast.Call):
                f = node.func
                nm = f.id if isinstance(f, ast.Name) else (
                    f.attr if isinstance(f, ast.Attribute) else None
                )
                if nm == "table":
                    loads |= {
                        a.value
                        for a in node.args
                        if isinstance(a, ast.Constant) and isinstance(a.value, str)
                    }
        return loads

    def _fixed_size_rhs(rhs: str) -> bool:
        # a binding is fixed-size iff EVERY table it loads is
        # nation/region (none may be SF-scaling), it applies the
        # nation⋈region prune, or it is a SCALAR aggregate — a grouped
        # .agg() output scales with its key's cardinality and must NOT
        # qualify (review finding: `groupBy('l_partkey').agg(...)` would
        # otherwise slip a corpus-growing hint past the guard)
        loads = _table_loads(rhs)
        if loads - {"nation", "region"}:
            return False  # loads something SF-scaling somewhere inside
        if loads or "_regional_nations" in rhs:
            return True
        return ".agg(" in rhs and "groupBy(" not in rhs and "groupby(" not in rhs

    def _hint_args(tree):
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else (
                    f.attr if isinstance(f, ast.Attribute) else None
                )
                if name == "broadcast" and node.args:
                    yield node.args[0]

    def _bindings(tree, name):
        """Source text of every RHS ever bound to `name` in the module
        (module level or inside any function)."""
        for node in ast.walk(tree):
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == name for t in node.targets
            ):
                yield ast.unparse(node.value)

    def _root_name(expr):
        """Base Name of a method chain: n.filter(x).select(y) -> 'n'."""
        while True:
            if isinstance(expr, ast.Call):
                expr = expr.func
            elif isinstance(expr, ast.Attribute):
                expr = expr.value
            elif isinstance(expr, ast.Name):
                return expr.id
            else:
                return None

    for mod in (tpch_full, tpch_deep):
        src = inspect.getsource(mod)
        tree = ast.parse(src)
        for arg in _hint_args(tree):
            text = ast.unparse(arg)
            if _fixed_size_rhs(text):
                continue  # inline fixed-size derivation (structural check)
            root = _root_name(arg)
            assert root is not None, f"{mod.__name__} hints unexpected form: {text}"
            rhss = list(_bindings(tree, root))
            assert rhss, f"{mod.__name__}: hinted name {root} has no local binding"
            for rhs in rhss:
                assert _fixed_size_rhs(rhs), (
                    f"{mod.__name__}: hinted name {root} bound to "
                    f"non-fixed-size source: {rhs}"
                )


@pytest.mark.parametrize(
    "name", ["join_q2_min_cost", "join_q8_market_share", "agg_q9_profit",
             "agg_q11_important", "agg_q16_supplier_cnt", "join_q20_excess_share",
             "join_q7_nation_volume", "agg_q15_top_supplier", "join_q21_late_supplier"]
)
def test_tpch_dehinted_dims_still_broadcast(spark, name):
    """Deleting the SF-scaling hints (r9 VERDICT item 1) must cost
    nothing at bench SF: Catalyst's size-only stats still pick a
    broadcast hash join for every dim leg — which requires the prune-key
    sets to be derived via LEFT SEMI joins (an INNER join output is
    scored at left×right bytes and silently flips the probe to a
    sort-merge join even when the true output is tiny; see
    _regional_supplier_keys). Nothing shuffles a fact table for a dim
    lookup and nothing degenerates into a cartesian product."""
    p = plan_of(QUERIES[name](spark, SF_SMALL))
    assert "CartesianProduct" not in p, p
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) >= 2, p
    assert "SortMergeJoin" not in p, p


def test_q16_exclusion_is_broadcast_anti(spark):
    """The NOT IN supplier blacklist must compile to a broadcast LEFT
    ANTI join, not a shuffle — stats-picked since r10 (the blacklist is
    a filtered scan, so its size estimate is honest; no hint needed)."""
    p = plan_of(QUERIES["agg_q16_supplier_cnt"](spark, SF_SMALL))
    assert "LeftAnti" in p, p
    assert re.search(r"BroadcastHashJoin .*LeftAnti", p), p


def test_cogroup_survives_full_output_pruning(spark):
    """Regression: a bare count() on the cogroup consumes NO output
    column, so Catalyst prunes the cogroup children to the grouping key
    and the pandas kernel receives key-only frames. The kernel must not
    crash on the pruned plan (bench counts every query)."""
    assert QUERIES["cogroup_user_join"](spark, SF_SMALL).count() > 0


def test_cc_distributed_loop_matches_union_find(spark):
    """dedup_components takes the driver union-find path on small pair
    sets; pin the distributed min-label loop (the big-graph path) to the
    same fixpoint on a multi-component graph with a 2-hop chain."""
    from cqlcopy_spark.operators.dedup import _cc_min_label_loop, _union_find_min_labels

    edge_list = [(5, 2), (2, 9), (10, 11), (20, 21), (21, 22), (7, 7)]
    pairs = spark.createDataFrame(edge_list, "d1 long, d2 long")
    got = {(r["u"], r["label"]) for r in _cc_min_label_loop(pairs).collect()}
    assert got == set(_union_find_min_labels(edge_list))


@pytest.mark.parametrize("name", ["quality_gopher_rules", "repetition_score"])
def test_curation_map_ops_never_shuffle(spark, name):
    """The rule-gate and repetition ops are pure per-row feature maps —
    any Exchange appearing here means a regression re-introduced a
    shuffle into what must stay scan→map at 100 TB."""
    p = plan_of(QUERIES[name](spark, SF_SMALL))
    assert "Exchange" not in p, p


def test_contamination_benchmark_broadcasts(spark):
    """The eval set is the small side by contract: the corpus must probe
    a broadcast, never shuffle for the join."""
    p = plan_of(QUERIES["contamination_overlap"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p, p


def test_epoch_reshuffle_shard_balance(spark):
    """Hash-uniformity sanity on the shard assignment: with ~500 docs
    over 8 shards per epoch, every shard must land within ±50% of the
    mean — a broken token fold (e.g. a lost pmod) typically collapses
    whole shards, which this catches cheaply at SF_MEDIUM."""
    from collections import Counter

    from cqlcopy_spark.operators.curation import (
        _RESHUFFLE_EPOCHS,
        _RESHUFFLE_SHARDS,
        epoch_reshuffle,
    )

    rows = epoch_reshuffle(spark, SF_MEDIUM).collect()
    per = Counter((r["epoch"], r["shard"]) for r in rows)
    by_epoch = Counter(r["epoch"] for r in rows)
    for (epoch, shard), n in per.items():
        mean = by_epoch[epoch] / _RESHUFFLE_SHARDS
        assert 0.5 * mean <= n <= 1.5 * mean, (epoch, shard, n, mean)
    assert len(per) == _RESHUFFLE_EPOCHS * _RESHUFFLE_SHARDS  # no empty shard


def test_domain_upsample_matches_python_expectation(spark):
    """Recompute every doc's copy count in pure Python from the weights
    table + portable token (an independent implementation of the
    fractional rule) and compare the per-(lang, n_copies) histogram —
    the oracle locks exact values, this locks the RULE the values came
    from (a transposed base/threshold CASE would still hash-match some
    fixture states)."""
    from collections import Counter

    import duckdb

    from cqlcopy_spark.functions.portable import KNUTH, M32
    from cqlcopy_spark.operators.curation import (
        _UPSAMPLE_SALT,
        _upsample_parts,
        domain_upsample,
    )

    parts = _upsample_parts()

    def token(doc_id: int) -> int:
        def t(key: int) -> int:
            k1 = key % M32
            hi, lo = k1 // 65536, k1 % 65536
            return ((KNUTH * hi % M32) * 65536 % M32 + KNUTH * lo) % M32

        return (t(doc_id) * 31 + t(_UPSAMPLE_SALT)) % M32

    docs = duckdb.sql(
        f"SELECT doc_id, lang FROM '{SF_MEDIUM}/documents.parquet'"
    ).fetchall()
    want = Counter()
    for doc_id, lang in docs:
        base, thr = parts.get(lang, (1, 0))
        n = base + (1 if token(doc_id) < thr else 0)
        if n > 0:
            want[(lang, n)] += 1
    got = Counter(
        (r["lang"], r["n_copies"])
        for r in domain_upsample(spark, SF_MEDIUM)
        .select("doc_id", "lang", "n_copies")
        .distinct()
        .collect()
    )
    assert got == want


def test_ab_lift_single_conditional_aggregate(spark):
    """ab_experiment_lift is ONE conditional aggregate: a partial+final
    HashAggregate pair on event_type, no join/window anywhere, and the
    variant hash + cents conversion run map-side below the partial
    (shuffle carries event-types × 7 numbers, not events)."""
    p = plan_of(QUERIES["ab_experiment_lift"](spark, SF_SMALL))
    assert "Join" not in p and "Window" not in p, p
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) == 2, p
    assert shuffle_exchanges(p) <= 2, p  # agg exchange + presentation sort


def test_snapshot_diff_hash_only_join(spark):
    """The snapshot diff joins 16-byte digests + keys, never document
    text: the full-outer join's ReadSchema must not carry `text` past
    the md5 projection (both scans read text, but the join inputs
    project it away), and the classify-then-count is map-side partial.
    Full outer can never broadcast — the doc_id shuffle is the
    contract; bucketed snapshot layouts remove it entirely."""
    p = plan_of(QUERIES["snapshot_diff"](spark, SF_SMALL))
    assert "FullOuter" in p, p
    assert "CartesianProduct" not in p, p
    # partial + final: count detail headers, not substrings — every node
    # prints twice in a formatted plan (CLAUDE.md pin rule)
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) == 2, p
    assert re.search(r"SortMergeJoin .*FullOuter", p), p
    # the hash-only property itself: text#N must be dropped by the md5
    # projection BELOW the exchanges — neither the join nor any Exchange
    # section may carry a raw text column
    for header in re.finditer(r"\(\d+\) (Exchange|SortMergeJoin).*", p):
        # find() returns -1 when the matched section is the LAST block —
        # the slice would then swallow the whole remaining plan (r10
        # ADVICE); clamp to end-of-text so the assert scopes one section
        end = p.find("\n\n", header.start())
        section = p[header.start(): end if end != -1 else len(p)]
        assert "text#" not in section, section


def test_quality_classifier_is_map_only(spark):
    """The linear classifier is ONE codegen'd fold per row: no shuffle,
    no join, no explode (the dot product collapses to a token-fold, so
    the histogram never materializes), no Python."""
    p = plan_of(QUERIES["quality_classifier"](spark, SF_SMALL))
    assert "Exchange" not in p, p
    assert "Join" not in p, p
    assert "Generate" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_tokenizer_fertility_single_partial_agg(spark):
    """scan → codegen map (split size + JVM regex count) → ONE
    partial-combining groupBy(lang); no window, no join, no Python."""
    p = plan_of(QUERIES["tokenizer_fertility"](spark, SF_SMALL))
    assert shuffle_exchanges(p) == 1, p
    assert "Join" not in p and "Window" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) == 2, p


def test_source_quality_block_single_partial_agg(spark):
    """The domain rollup is scan → codegen fold → ONE partial-combining
    groupBy(source): the shuffle carries 4 integers per (task, source),
    never corpus rows — no window, no join, no Python."""
    p = plan_of(QUERIES["source_quality_block"](spark, SF_SMALL))
    assert shuffle_exchanges(p) == 1, p
    assert "Join" not in p and "Window" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    # partial + final HashAggregate pair (detail headers — CLAUDE.md rule)
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) == 2, p


def test_contamination_excise_anti_join(spark):
    """The excision is a LEFT ANTI join of the corpus against the
    contamination-rate-sized flagged key set: never a cartesian, and the
    flagged side enters the join as doc_id keys only (its window strings
    and per-doc aggregates are pruned/reduced before the join)."""
    p = plan_of(QUERIES["contamination_excise"](spark, SF_SMALL))
    assert "LeftAnti" in p, p
    assert "CartesianProduct" not in p, p
    # the detect stage's bench-side broadcast survives inside the lineage
    assert "BroadcastHashJoin" in p, p


def test_domain_upsample_is_map_only(spark):
    """Mixture upsampling is a literal-CASE map + explode: no weights
    join, no exchange of any kind — the 100 TB corpus streams through."""
    p = plan_of(QUERIES["domain_upsample"](spark, SF_SMALL))
    assert "Exchange" not in p, p
    assert "Join" not in p, p
    assert "Generate" in p, p  # the copy explode




def test_epoch_reshuffle_no_global_sort(spark):
    """epoch_reshuffle must never global-sort: positions are per-(epoch,
    shard) — one hash exchange for the window, no rangepartitioning
    (a global row_number would funnel the corpus through one reducer)."""
    p = plan_of(QUERIES["epoch_reshuffle"](spark, SF_SMALL))
    assert "rangepartitioning" not in p.lower(), p
    assert shuffle_exchanges(p) == 1, p  # the (epoch, shard) window only
    assert "Join" not in p, p


def test_epoch_reshuffle_deterministic_under_repartition(spark):
    """The whole point of the op: the permutation is a pure function of
    (epoch, doc_id), so ANY physical layout of the input produces
    byte-identical (epoch, doc_id, shard, pos) assignments. rand(seed)
    ordering — the tempting alternative — fails exactly this test."""
    from cqlcopy_spark.operators.curation import _epoch_reshuffle_rank, epoch_reshuffle

    base = {tuple(r) for r in epoch_reshuffle(spark, SF_SMALL).collect()}
    # same data through the REAL kernel under adversarial layouts:
    # one partition, many, key-skewed
    for layout in (lambda d: d.coalesce(1), lambda d: d.repartition(13),
                   lambda d: d.repartition(7, "lang")):
        docs = layout(spark.read.parquet(f"{SF_SMALL}/documents.parquet"))
        got = {tuple(r) for r in _epoch_reshuffle_rank(docs).collect()}
        assert got == base
    # epochs permute independently: epoch-0 and epoch-1 shard labels differ
    by_epoch = {}
    for (epoch, doc_id, _, shard, pos) in base:
        by_epoch.setdefault(epoch, {})[doc_id] = (shard, pos)
    assert by_epoch[0] != by_epoch[1]


def test_contamination_bench_side_is_bounded():
    """r9 VERDICT item 2: F.broadcast(bench) is only sound because the
    bench set is FIXED-SIZE BY CONSTRUCTION — the id cap bounds it at
    _BENCH_CAP docs at every SF. The bare mod-slice it replaced was a 2%
    corpus-growing side: the hint would abort at the 8 GB broadcast
    ceiling at production SF (the same class as the deleted TPC-H
    hints). r11 (r10 VERDICT item 4): the membership rule now lives
    ONCE in _bench_split / _sql_is_bench — the guard checks both ops
    route through the shared helper (structural) instead of holding two
    inlined copies string-equal; the oracle SQL carries the identical
    predicate, so a one-sided regrow also fails the driver hash."""
    import inspect

    from cqlcopy_spark.operators import text

    assert text._BENCH_MAX_ID == text._BENCH_MOD * text._BENCH_CAP
    # the cap lives in the ONE shared helper…
    assert "_BENCH_MAX_ID" in inspect.getsource(text._bench_split)
    assert f"doc_id < {text._BENCH_MAX_ID}" in text._sql_is_bench()
    # …and both operators consume it through the shared PAIR helpers
    # (r12: the pair derivation was factored out for decontamination_report
    # — the guard follows the call chain one level down), which are the
    # single place _bench_split is applied and the broadcast hint lives
    for op, helper in (
        (text.contamination_overlap, text._overlap_pairs),
        (text.contamination_substring, text._substring_pairs),
    ):
        assert f"_{helper.__name__.strip('_')}(" in inspect.getsource(op), (
            f"{op.__name__} bypasses {helper.__name__}"
        )
        hsrc = inspect.getsource(helper)
        assert "_bench_split(" in hsrc, f"{helper.__name__} bypasses _bench_split"
        assert "F.broadcast(bench)" in hsrc  # the hint the cap justifies
    # the registered oracles must cap identically (driver compares them)
    from cqlcopy_spark.plans.registry import all_oracles

    for name in ("contamination_overlap", "contamination_substring"):
        assert f"doc_id < {text._BENCH_MAX_ID}" in all_oracles()[name]


def test_register_views_memo_follows_sf_switch(spark):
    """register_views memoizes per (session, sf_dir); switching sf_dir in
    the same session must re-register (serving the previous directory's
    views would silently corrupt every spark.sql()-path query)."""
    from cqlcopy_spark.catalog import register_views

    register_views(spark, SF_SMALL)
    n_small = spark.sql("SELECT COUNT(*) c FROM lineitem").first()["c"]
    register_views(spark, SF_MEDIUM)
    n_medium = spark.sql("SELECT COUNT(*) c FROM lineitem").first()["c"]
    assert n_medium > n_small
    register_views(spark, SF_SMALL)
    assert spark.sql("SELECT COUNT(*) c FROM lineitem").first()["c"] == n_small


def test_pack_sequences_single_shuffle(spark):
    """The pack aggregation groups on (shard, pack_id) with shard a
    prefix, so it must reuse the window's hash(shard) partitioning —
    exactly one shuffle for window + agg combined. The multimodal packer
    shares the placement kernel and must keep the identical shape."""
    p = plan_of(QUERIES["pack_sequences"](spark, SF_SMALL))
    assert shuffle_exchanges(p) == 1, p
    p = plan_of(QUERIES["multimodal_pack"](spark, SF_SMALL))
    assert shuffle_exchanges(p) == 1, p
    assert "Join" not in p, p


def test_triplet_mining_stays_broadcast_nlj(spark):
    """Both roles come from ONE un-persisted read of the brute-force
    ranking (single filter + pick window — r12 ADVICE removed the
    session-lifetime persist): the Q×corpus pairing stays a broadcast
    nested loop (corpus never shuffled for the pairing), and nothing
    degrades to a cartesian."""
    p = plan_of(QUERIES["triplet_mining"](spark, SF_SMALL))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" in p, p


def test_pack_utilization_single_shuffle(spark):
    """The per-shard rollup stacks on pack_sequences' lineage and reuses
    the SAME hash(shard) partitioning (shard is a prefix of the pack
    grouping key): still exactly ONE exchange end to end, no join."""
    p = plan_of(QUERIES["pack_utilization"](spark, SF_SMALL))
    assert shuffle_exchanges(p) == 1, p
    assert "Join" not in p, p


def test_ann_ivf_probes_with_one_join(spark):
    """similarity_ann_ivf joins the corpus to ONE driver-side table of
    (query, probed cell, query vector) rows on cell. A separate query
    table joined to the probe table on q_id is a second join whose
    build side AQE picks at run time, so the plan varied between runs."""
    df = QUERIES["similarity_ann_ivf"](spark, SF_SMALL)
    p = df._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"^\W*Join ", p, re.M)) == 1, p


def test_driver_query_rotation_orders_unchecked_first(tmp_path, monkeypatch):
    """The grading driver correctness-checks only the first 50 queries()
    entries per round. queries() must rank previously-FAILED names
    first, never-checked names next, and green names last, so successive
    rounds cover the whole registry."""
    import importlib.util
    import json

    spec = importlib.util.spec_from_file_location("__spark_entry__", _ENTRY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    names = list(mod.queries())
    ok = {"rows_match": True, "schema_match": True, "hash_match": True}
    bad = {"rows_match": True, "schema_match": True, "hash_match": False}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({names[0]: ok, names[1]: bad})
    )
    monkeypatch.setattr(mod, "_REPO", str(tmp_path))
    order = list(mod.queries())
    assert order[0] == names[1]  # failed outranks everything
    assert order[-1] == names[0]  # green sinks to the back
    assert set(order) == set(names)


def test_driver_query_rotation_rotates_greens_by_freshness(tmp_path, monkeypatch):
    """Once the whole registry is green, rank() must NOT collapse to fixed
    registry order (the r5 verdict's finding): green entries are ordered
    last-checked-round ASCENDING so the driver's 50-entry window sweeps
    the registry oldest-check-first, and a green entry whose implementing
    module CONTENT changed after its check (rotation_ledger.json sha
    mismatch — NOT fs mtimes, which misfired in r07) is fronted ahead of
    all other greens."""
    import importlib.util
    import json

    spec = importlib.util.spec_from_file_location("__spark_entry__", _ENTRY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    names = list(mod.queries())
    ok = {"rows_match": True, "schema_match": True, "hash_match": True}
    a, b, c = names[0], names[1], names[2]
    # b checked (green) in r01, a checked (green) in r02, c never checked
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({b: ok}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({a: ok}))
    monkeypatch.setattr(mod, "_REPO", str(tmp_path))

    order = list(mod.queries())
    # unchecked c stays ahead of both greens; b (r01) outranks a (r02)
    assert order.index(c) < order.index(b) < order.index(a)
    assert order[-2:] == [b, a]

    # now b's ledger sha diverges from its current module content (a
    # rewrite after its check): fronted ahead of every other green (but
    # still behind unchecked entries). a's ledger sha MATCHES current
    # content, so a stays in the freshness sweep.
    from cqlcopy_spark.plans.rotation import module_sha

    (tmp_path / "rotation_ledger.json").write_text(json.dumps({
        b: {"round": 1, "module_sha": "0" * 64},
        a: {"round": 2, "module_sha": module_sha(mod.all_queries()[a])},
    }))
    order2 = list(mod.queries())
    assert order2.index(c) < order2.index(b) < order2.index(a)
    first_green = min(order2.index(a), order2.index(b))
    assert order2[first_green] == b

    # an artifact-only rewrite (mtime bump, identical content) must NOT
    # front anything: with b's ledger sha set to its TRUE content sha the
    # ordering returns to the pure freshness sweep
    (tmp_path / "rotation_ledger.json").write_text(json.dumps({
        b: {"round": 1, "module_sha": module_sha(mod.all_queries()[b])},
        a: {"round": 2, "module_sha": module_sha(mod.all_queries()[a])},
    }))
    order3 = list(mod.queries())
    assert order3[-2:] == [b, a]


def test_rotation_sha_covers_the_dependency_closure():
    """module_sha hashes the defining module plus every cqlcopy_spark
    module it imports, transitively: stream_curation_apply is defined in
    text.py but its state logic lives in streaming/sinks.py and
    streaming/state_log.py, so a rewrite of either must front it. The
    registry is a leaf (its loader imports every operator), so an op's
    closure is not the whole package."""
    from pathlib import Path

    from cqlcopy_spark.plans.rotation import module_closure

    files = {
        Path(f).relative_to(Path(__file__).resolve().parents[1]).as_posix()
        for f in module_closure(QUERIES["stream_curation_apply"]).values()
    }
    assert {
        "cqlcopy_spark/operators/text.py",
        "cqlcopy_spark/streaming/sinks.py",
        "cqlcopy_spark/streaming/state_log.py",
    } <= files, files
    rel = module_closure(QUERIES["agg_pricing_summary"])
    assert "cqlcopy_spark.operators.text" not in rel, sorted(rel)


def test_boilerplate_strip_broadcast_hash_probe(spark):
    """boilerplate_strip: the strip must be a BROADCAST HASH join of
    the exploded segments against the boilerplate table — O(1) probes.
    (The array_contains formulation this replaced scanned the whole
    17k-entry set per probe: 5.6e9 string compares ≈ 103 s at sf0.1.)
    The broadcast is STATS/AQE-chosen, not hinted (r7 VERDICT item 1):
    the blacklist grows with the corpus, so an explicit hint would
    abort at the 8 GB ceiling where the unhinted plan degrades to a
    shuffle join. Exchanges budget: (chunk, doc) dedupe + chunk df
    count + doc_id reassembly + presentation sort = 4; never a
    sort-merge join or cartesian on the corpus side."""
    import inspect

    from cqlcopy_spark.operators.text import boilerplate_strip

    assert "F.broadcast(" not in inspect.getsource(boilerplate_strip)
    p = plan_of(QUERIES["boilerplate_strip"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p, p
    assert shuffle_exchanges(p) <= 4, p
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p, p


@pytest.mark.parametrize(
    "name, banned",
    [
        ("agg_scalar_subquery", "broadcast(p"),
        ("agg_promo_ratio", "broadcast(p"),
        ("filter_disjunctive", "broadcast(p"),
        ("join_q5_local", "broadcast(s"),
        ("join_null_safe", "broadcast(s"),
    ],
)
def test_dehinted_scaling_dim_joins_still_broadcast(spark, name, banned):
    """r7 VERDICT item 1 (+ the round-8 sweep that caught two supplier
    hints the audit missed): unconditional broadcast hints on
    SF-SCALING tables (part, supplier — catalog.SF_SCALING_DIMS) are
    gone; an explicit hint is honored unconditionally and aborts at the
    8 GB broadcast ceiling at production SF. These pins prove deleting
    the hints cost nothing at bench SF: Catalyst's parquet-size stats
    still pick a broadcast hash join for the scaling side, and nothing
    degenerates to a cartesian; past the ceiling the same plan flips to
    a shuffle join instead of aborting."""
    import inspect

    src = inspect.getsource(QUERIES[name])
    assert banned not in src, f"{name} re-grew a scaling-dim hint"
    p = plan_of(QUERIES[name](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p, p
    # SortMergeJoin banned too: 'some BHJ exists' alone is satisfiable
    # by a hinted nation/region or 1-row-agg join while the dehinted
    # fact-side join silently degrades to a shuffle+sort
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p


@pytest.mark.parametrize(
    "name, banned",
    [
        ("tfidf_top_terms", "broadcast(df_"),
        ("cooccurrence_pmi", "broadcast(uni"),
        ("bpe_segment_docs", "broadcast(vocab"),
    ],
)
def test_dehinted_vocab_joins_still_broadcast(spark, name, banned):
    """r8 VERDICT items 1-3: the last corpus-growing broadcast hints —
    the term document-frequency table (tfidf), the unigram count table
    (PMI, hinted twice), and the learned BPE symbol table — are gone.
    Unlike the nation/region dims these tables are VOCABULARY-sized and
    the vocabulary grows with the corpus (heaps-law sublinear, but
    10⁹+ distinct tokens at web scale); an explicit hint is honored
    unconditionally and aborts at the 8 GB ceiling at 100×. These pins
    prove the deletion cost nothing at bench SF: size stats still pick
    a broadcast hash join while the table fits, and past the ceiling
    the same plan degrades to a shuffle join instead of aborting."""
    import inspect

    src = inspect.getsource(QUERIES[name])
    assert banned not in src, f"{name} re-grew a vocabulary-table hint"
    p = plan_of(QUERIES[name](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p


@pytest.mark.parametrize(
    "name", ["graph_triangles_pages", "graph_link_predict_pages"]
)
def test_page_graph_variants_shuffle_on_node_past_ceiling(spark, name):
    """r8 VERDICT item 7: the page-graph variants carry NO node-table
    broadcast hint. Two halves of the contract: (a) at bench SF the
    optimizer's size stats still pick broadcast joins (dehinting costs
    nothing while the node table fits); (b) with broadcasting force-
    disabled — standing in for a web-scale node table past the 8 GB
    ceiling — the SAME code plans pure shuffle joins on node, no
    cartesian, no nested-loop, no abort. The hinted domain-graph twins
    would ignore (b): an explicit hint is honored unconditionally."""
    p = plan_of(QUERIES[name](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        # the default-conf half above persisted the shared edge lineage
        # with a stats-picked BHJ baked into its cached physical plan;
        # the cache manager would splice that InMemoryRelation into the
        # dehinted plan and fake a broadcast under -1
        spark.catalog.clearCache()
        p = plan_of(QUERIES[name](spark, SF_SMALL))
        assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 0, p
        assert "SortMergeJoin" in p, p
        assert "CartesianProduct" not in p, p
        assert "BroadcastNestedLoop" not in p, p
    finally:
        spark.conf.set(key, prev)


def test_runtime_bloom_filter_semi_join_reduction(spark):
    """Scale recipe pin: with runtime bloom filters on, a selective dim
    filter (orders priority) injects might_contain(bloom_filter_agg(...))
    into the FACT scan side of the join — rows that can't match are
    dropped before the shuffle, the lever that turns a 100 TB
    fact-to-filtered-dim join from full-shuffle into
    selectivity-proportional. Local fixtures sit far under the 10 GB
    production thresholds, so the application-side threshold is zeroed
    for the pin; creation-side stays size-guarded as in production."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_SMALL}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        p = plan_of(j)
        assert "might_contain" in p, p
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_changepoints_single_user_exchange(spark):
    """timeseries_changepoints: seven windows (count/total, two prefix
    sums, running min/max, two lags) and the final aggregate all share
    ONE user_id exchange — the raw event volume crosses exactly once
    (+ the presentation sort)."""
    p = plan_of(QUERIES["timeseries_changepoints"](spark, SF_SMALL))
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert node not in p, p
    assert shuffle_exchanges(p) <= 2, p


def test_every_query_plan_is_hygienic(spark):
    """Blanket sweep over the whole registry: no query may plan a
    cartesian product (except join_cross, which demonstrates one on a
    deliberately tiny pair of dims) and none may fall back to
    row-at-a-time Python evaluation (BatchEvalPython) — Python touches
    data only through Arrow (ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas and friends)."""
    allowed_cartesian = {"join_cross"}
    bad = []
    for name, fn in QUERIES.items():
        p = plan_of(fn(spark, SF_SMALL))
        if "CartesianProduct" in p and name not in allowed_cartesian:
            bad.append((name, "CartesianProduct"))
        if "BatchEvalPython" in p:
            bad.append((name, "BatchEvalPython"))
    assert not bad, bad


def test_gram_builders_handle_short_docs(spark):
    """Docs with fewer than 3 tokens must yield EMPTY gram lists, not an
    element_at crash: Spark's sequence(1, 0) infers step -1 and produces
    [1, 0] where DuckDB's range(1, 1) is empty. Fixtures happen to have
    long docs, so pin the guard directly."""
    from cqlcopy_spark.operators.dedup import _with_grams

    d = spark.createDataFrame(
        [(1, "a"), (2, "a b"), (3, "a b c"), (4, "a b c d")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["grams"] for r in _with_grams(d).collect()}
    assert 1 not in out and 2 not in out  # gram-less docs filtered, not crashed
    assert out[3] == ["a b c"] and out[4] == ["a b c", "b c d"]


def test_embedding_cosine_never_materializes_corpus_on_driver(spark, monkeypatch):
    """r03 verdict: the old implementation pulled the WHOLE embeddings
    table through the driver (toPandas) to play the broadcast-dim role —
    a driver OOM at 100 TB. The block-pair decomposition must build its
    plan without any driver-side collect of vector data; the only driver
    action allowed is the row COUNT that sizes the block grid."""
    from pyspark.sql import DataFrame

    def _banned(self, *a, **k):
        raise AssertionError("driver-side toPandas() in dedup_embedding_cosine")

    monkeypatch.setattr(DataFrame, "toPandas", _banned)
    df = QUERIES["dedup_embedding_cosine"](spark, SF_SMALL)
    monkeypatch.undo()
    p = plan_of(df)
    # executor-side grouped kernel, one task per block pair
    assert "FlatMapGroupsInPandas" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    # and it still computes the exact all-pairs answer
    assert df.count() == 66


@pytest.mark.parametrize("name", ["chunk_documents", "kwic_context"])
def test_chunking_ops_are_narrow_codegen_maps(spark, name):
    """Chunking/concordance are scan-shaped: split→explode→slice inside
    one whole-stage codegen span, ZERO shuffles — output scales with the
    input, so any Exchange here would shuffle the whole corpus."""
    p = plan_of(QUERIES[name](spark, SF_SMALL))
    assert "Exchange" not in p, p
    assert "codegen id" in p, p
    assert "BatchEvalPython" not in p, p


def test_ohlc_rollup_partial_aggregates_before_shuffle(spark):
    """min_by/max_by over the ordering struct must partial-aggregate
    map-side (SortAggregate pair) so the group-key exchange carries one
    row per (type, hour) per task, not raw events."""
    p = plan_of(QUERIES["events_ohlc_rollup"](spark, SF_SMALL))
    assert p.count("SortAggregate") >= 2 or p.count("HashAggregate") >= 2, p
    assert "CartesianProduct" not in p, p


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        ("scd2_user_state", 2),      # user_id window + output sort
        ("json_props_stats", 2),     # type agg + output sort
        ("batch_sessionize", 2),     # ONE user_id exchange feeds lag window,
                                     # cumsum window AND session agg; + sort
        ("embedding_centroids", 2),  # (label, dim) agg + output sort
    ],
)
def test_single_work_shuffle_event_ops(spark, name, max_shuffles):
    """Each of these is one logical repartitioning plus the presentation
    sort — a second work shuffle would mean the window/agg stopped
    sharing its key."""
    p = plan_of(QUERIES[name](spark, SF_SMALL))
    assert shuffle_exchanges(p) <= max_shuffles, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p


@pytest.mark.parametrize("name", ["events_funnel", "retention_cohorts", "cooccurrence_pmi"])
def test_behavior_ops_broadcast_small_sides(spark, name):
    """Funnel stages, cohort sizes and the vocabulary table are
    output-bounded relations: they must broadcast onto the big side,
    never sort-merge it."""
    p = plan_of(QUERIES[name](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p


def test_embedding_cosine_multiblock_matches_brute_force(spark, tmp_path, monkeypatch):
    """The fixtures are small enough that only the parallelism floor
    drives the block count — force the SIZE-driven path (ceil(n/8k) > 2
    blocks) on a synthetic corpus and check the block-pair kernel
    reproduces the exact numpy all-pairs answer, diagonal and
    off-diagonal blocks alike."""
    import numpy as np
    import pandas as pd

    import cqlcopy_spark.operators.similarity as sim

    rng = np.random.default_rng(7)
    n, d = 600, 16
    X = rng.standard_normal((n, d))
    pd.DataFrame(
        {"vec_id": np.arange(n), "embedding": [r.astype("float32") for r in X],
         "label": np.zeros(n, dtype="int32")}
    ).to_parquet(tmp_path / "embeddings.parquet")

    monkeypatch.setattr(sim, "_BLOCK_ROWS", 100)  # 600 rows → 6 blocks, 21 pairs
    got = {
        (r["v1"], r["v2"])
        for r in sim.dedup_embedding_cosine(spark, str(tmp_path)).collect()
    }

    Xd = X.astype("float32").astype("float64")
    nrm = np.sqrt((Xd * Xd).sum(axis=1))
    cos = (Xd @ Xd.T) / (nrm[:, None] * nrm[None, :])
    iu = np.triu_indices(n, 1)
    want = {
        (int(a), int(b))
        for a, b in zip(iu[0], iu[1])
        if cos[a, b] >= sim._NEARDUP_COS
    }
    assert got == want and len(want) > 0


def test_zorder_tightens_both_column_ranges(spark):
    """The point of the Z-order rewrite is pruning: split the clustered
    output into row chunks (stand-ins for parquet row groups) and BOTH
    key columns' per-chunk min/max ranges must be far tighter than the
    full domain — a single-column sort achieves that only for its
    leading column."""
    import pandas as pd

    pdf = QUERIES["layout_zorder"](spark, SF_SMALL).toPandas()
    n_chunks = 10
    chunks = [
        pdf.iloc[i * len(pdf) // n_chunks : (i + 1) * len(pdf) // n_chunks]
        for i in range(n_chunks)
    ]

    def avg_range(frames: "list[pd.DataFrame]", c: str) -> float:
        return sum(f[c].max() - f[c].min() for f in frames) / len(frames)

    full_ok = pdf["o_orderkey"].max() - pdf["o_orderkey"].min()
    full_ck = pdf["o_custkey"].max() - pdf["o_custkey"].min()
    # Z-order: each chunk covers a fraction of BOTH domains
    assert avg_range(chunks, "o_orderkey") < 0.6 * full_ok
    assert avg_range(chunks, "o_custkey") < 0.6 * full_ck
    # baseline: orderkey-sorted layout leaves custkey chunks spanning
    # essentially the whole domain
    by_ok = pdf.sort_values("o_orderkey")
    ok_chunks = [
        by_ok.iloc[i * len(by_ok) // n_chunks : (i + 1) * len(by_ok) // n_chunks]
        for i in range(n_chunks)
    ]
    assert avg_range(ok_chunks, "o_custkey") > 0.9 * full_ck


@pytest.mark.parametrize("name", ["pii_redact"])
def test_pii_redact_is_map_plus_presentation_sort(spark, name):
    """PII scrub is a pure per-row regex map: the only shuffle allowed is
    the presentation ORDER BY — an Exchange beyond that (or any Python
    eval) means the regex work left codegen."""
    p = plan_of(QUERIES[name](spark, SF_SMALL))
    assert shuffle_exchanges(p) <= 1, p
    assert "BatchEvalPython" not in p, p
    assert "Join" not in p, p


def test_url_domains_partial_aggregates_then_takeordered(spark):
    """Domain frequency must partial-agg map-side and pick the top-10 via
    TakeOrderedAndProject (per-partition heap), never a global sort of
    the domain table."""
    p = plan_of(QUERIES["url_domains_top"](spark, SF_SMALL))
    assert p.count("HashAggregate") >= 2, p
    assert "TakeOrderedAndProject" in p, p
    assert shuffle_exchanges(p) <= 1, p


def test_vocab_coverage_windows_after_limit(spark):
    """The cumulative-coverage window must run AFTER the top-30 limit
    (single-partition window over 30 rows, not the vocabulary): the plan
    shows TakeOrderedAndProject feeding the Window, and the scalar total
    rides a broadcast."""
    p = plan_of(QUERIES["vocab_coverage"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in p, p
    assert "BroadcastNestedLoopJoin" in p, p  # 1-row total, broadcast
    assert "Window" in p, p
    # the formatted tree is top-down: the Window consumes the limit,
    # so it must appear ABOVE (before) the TakeOrderedAndProject node
    assert p.index("Window") < p.index("TakeOrderedAndProject"), p


def test_embedding_norm_stats_zero_shuffle_topk(spark):
    """Norms are a codegen fold; top-15 via per-partition heaps — the
    whole query must run shuffle-free."""
    p = plan_of(QUERIES["embedding_norm_stats"](spark, SF_SMALL))
    assert shuffle_exchanges(p) == 0, p
    assert "TakeOrderedAndProject" in p, p
    assert "BatchEvalPython" not in p, p


def test_join_null_safe_broadcasts(spark):
    """Null-safe equality must still plan as a broadcast hash join (NULL
    is just another hash bucket), not fall back to nested-loop."""
    p = plan_of(QUERIES["join_null_safe"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_recursive_cte_plans_unionloop_broadcast(spark):
    """WITH RECURSIVE lowers to UnionLoop; the 12-row spine must be the
    broadcast side of the histogram join."""
    p = plan_of(QUERIES["recursive_price_buckets"](spark, SF_SMALL))
    assert "UnionLoop" in p, p
    assert "BroadcastHashJoin" in p, p


def test_profile_columns_two_hash_branches(spark):
    """K columns profiled (incl. K exact distincts) in exactly TWO
    column-pruned scans — plain-metrics branch + two-phase distinct
    branch — and every aggregate is a parallel HashAggregate. The
    single-agg countDistinct form is banned: its RewriteDistinct plan
    is a SortAggregate whose giant filtered-first buffer recompiles on
    every execution and sorts K×N expanded rows inside however few
    partitions the scan produced (~40× slower at sf0.1)."""
    p = plan_of(QUERIES["profile_columns"](spark, SF_SMALL))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 2, p
    # no Expand = the RewriteDistinctAggregates plan never came back;
    # the empty-key SortAggregate of the plain branch is fine (there is
    # nothing to sort under an empty grouping key)
    assert "Expand" not in p, p
    assert p.count("HashAggregate") >= 4, p


def test_dq_expectations_scan_economy(spark):
    """Each table's rules (predicate + referential) share one scan:
    lineitem, customer, documents read once; orders twice (ruled table
    AND parent of lineitem's FK). 5 scans total — a naive rule-per-scan
    plan would use 7+ and re-read the two fact tables per rule."""
    p = plan_of(QUERIES["dq_expectations"](spark, SF_SMALL))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 5, p
    assert "BatchEvalPython" not in p, p


def test_try_funcs_is_pure_codegen_map(spark):
    """NULL-on-error evaluation must stay a scan-shaped codegen map —
    no shuffle, no Python fallback (the loader's per-cell containment
    philosophy only works if failure handling costs nothing)."""
    p = plan_of(QUERIES["try_funcs"](spark, SF_SMALL))
    assert shuffle_exchanges(p) == 0, p
    assert "BatchEvalPython" not in p, p


def test_graph_triangles_oriented_and_persisted(spark):
    """graph_triangles: the degree-ordered orientation must survive in
    the plan — the oriented edge set is built ONCE and cached (three
    consumers: both wedge sides + the closing join; self-joins
    re-execute lineage otherwise), the degree lookups broadcast, and no
    cartesian/range-sort appears. The wedge join and the closing join
    are the only shuffle joins allowed."""
    p = plan_of(QUERIES["graph_triangles"](spark, SF_SMALL))
    assert "InMemoryRelation" in p, p  # oriented set cached, not replayed
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastHashJoin") >= 2, p  # degree lookups


def test_graph_link_predict_capped_and_persisted(spark):
    """graph_link_predict: the capped adjacency feeding the pair
    self-join is cached (both sides + anti-join source would replay
    lineage), degree lookups broadcast, no cartesian, and the top-N is
    a TakeOrdered, never a global range sort."""
    p = plan_of(QUERIES["graph_link_predict"](spark, SF_SMALL))
    assert "InMemoryRelation" in p, p
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "TakeOrderedAndProject" in p, p
    assert "rangepartitioning" not in p.lower(), p


def test_span_dedup_partial_argmin_no_window(spark):
    """dedup_spans: first-occurrence resolution must stay argmin-via-
    groupBy — map-side partial_min visible before the span exchange, and
    NO Window over the span key (a window would funnel every copy of a
    hot boilerplate span through one reducer with no partial combine and
    no AQE skew rescue)."""
    p = plan_of(QUERIES["dedup_spans"](spark, SF_SMALL))
    assert "partial_min(struct(doc_id" in p, p
    assert "Window" not in p, p
    assert "CartesianProduct" not in p, p


def test_substring_dedup_argmin_single_locf_window(spark):
    """dedup_substrings: first-occurrence resolution stays argmin-via-
    groupBy (map-side partial_min before the window-content exchange —
    a hot boilerplate window must partial-combine and leave the probe
    join AQE-splittable), and token coverage is the ONE doc_id-keyed
    LOCF Window — never a token×window range join (no cartesian, no
    extra join) and never a Window over the window-content key. The
    final reassembly groupBy must ride the LOCF window's doc_id
    partitioning: 3 shuffle exchanges total (firsts agg, LOCF window,
    presentation sort)."""
    p = plan_of(QUERIES["dedup_substrings"](spark, SF_SMALL))
    assert "partial_min(struct(doc_id" in p, p
    # one Window node (the doc_id LOCF scan), counted by detail header
    assert len(re.findall(r"\(\d+\) Window", p)) == 1, p
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p, p
    assert shuffle_exchanges(p) <= 3, p


def test_bm25_posting_probe_shape(spark):
    """bm25_retrieval: the corpus posting lists probe the tiny query
    term set via hash joins (stats-picked broadcast — the query side is
    a workload constant), corpus-wide stats ride exactly ONE 1-row
    broadcast nested-loop cross join, tf/df aggregates partial-combine
    map-side, and nothing degenerates into a cartesian."""
    p = plan_of(QUERIES["bm25_retrieval"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p, p
    assert "partial_count" in p, p
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) == 1, p
    assert "CartesianProduct" not in p, p
    assert "SortMergeJoin" not in p, p


def test_interpolate_single_lineage_no_join(spark):
    """timeseries_interpolate: the gapfill lead-explode discipline — no
    spine join, no LOCF pass; one (user, hour) pick aggregate + one
    user lead window (which shares nothing with a join), then a narrow
    explode. Two shuffle exchanges total, no join operator at all."""
    p = plan_of(QUERIES["timeseries_interpolate"](spark, SF_SMALL))
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "CartesianProduct"):
        assert node not in p, p
    assert shuffle_exchanges(p) <= 2, p
    assert len(re.findall(r"\(\d+\) Generate", p)) == 1, p


def test_kmeans_assignment_single_arrow_stage(spark):
    """embedding_kmeans: the RETURNED assignment plan is one Arrow map
    stage over the persisted corpus — no row-at-a-time Python, no
    cartesian; the per-iteration centroid folds ran as separate bounded
    jobs during plan construction and must not leave joins behind."""
    p = plan_of(QUERIES["embedding_kmeans"](spark, SF_SMALL))
    assert len(re.findall(r"\(\d+\) MapInPandas", p)) == 1, p
    assert "BatchEvalPython" not in p, p
    assert "CartesianProduct" not in p, p


def test_semdedup_one_arrow_stage_no_cartesian(spark):
    """dedup_semdedup: exactly ONE Arrow stage (the per-cell pair
    kernel); cell assignment and the verdict join stay JVM-side, and
    candidate generation never degenerates into a cartesian."""
    p = plan_of(QUERIES["dedup_semdedup"](spark, SF_SMALL))
    # formatted mode prints each node twice (tree + detail) — count the
    # numbered detail headers, one per physical node
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", p)) == 1, p
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p, p


def test_keep_best_partial_argmax_no_window(spark):
    """dedup_keep_best: the per-component survivor pick must stay
    argmax-via-groupBy (map-side partial_max) with NO row_number window
    — one giant near-dup cluster must be a splittable agg key, not a
    whole-cluster sort on a single reducer."""
    p = plan_of(QUERIES["dedup_keep_best"](spark, SF_SMALL))
    assert "partial_max(struct(q" in p, p
    assert "Window" not in p, p


def test_pq_topk_one_scan_no_corpus_shuffle(spark):
    """embedding_pq_topk: the ADC scale shape — ONE parquet scan feeding
    encode + ADC as two Arrow stages with the per-partition top-CAND cut
    INSIDE the map (the corpus never reaches an exchange); the only
    shuffle carries candidate rows into the final window, queries join
    by broadcast, and nothing degenerates into a cartesian.

    clearCache first: _kmeans_fit (r16) persists the SAME analyzed
    subtree this op's encode stage builds (embeddings select +
    repartition(par)), and a kmeans pin earlier in the session leaves
    it cached — the cache manager would splice that InMemoryRelation,
    with the repartition Exchange baked into its cached plan, under
    the encode map and double the exchange count (the CLAUDE.md
    splice rule; the op's own plan is what this pin asserts)."""
    spark.catalog.clearCache()
    p = plan_of(QUERIES["embedding_pq_topk"](spark, SF_SMALL))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    assert len(re.findall(r"\(\d+\) MapInPandas", p)) == 2, p
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 1, p
    assert shuffle_exchanges(p) == 1, p
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin",
                 "SortMergeJoin", "BatchEvalPython"):
        assert node not in p, p


def test_decon_report_all_joins_broadcast_no_cartesian(spark):
    """decontamination_report: the three-gate union must inherit each
    gate's shape — every join a broadcast probe (fixed-size bench index
    / band-bucket / refine sides), never a corpus shuffle join or a
    cartesian, and each rollup partial-combines (map-side partials)."""
    p = plan_of(QUERIES["decontamination_report"](spark, SF_SMALL))
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin",
                 "SortMergeJoin", "ShuffledHashJoin"):
        assert node not in p, p
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) >= 3, p
    assert len(re.findall(r"\(\d+\) Union", p)) == 1, p


def test_ivfpq_one_scan_no_corpus_shuffle(spark):
    """similarity_ivfpq: the composed index keeps embedding_pq_topk's
    contract — ONE parquet scan through two Arrow stages (residual
    encode, then ADC with the cell mask and top-CAND cut inside the
    map); the only shuffle carries candidate rows, queries broadcast.
    clearCache first — same splice exposure as the pq_topk pin above
    (_ivfpq_fit builds the identical corpus repartition subtree
    _kmeans_fit leaves persisted)."""
    spark.catalog.clearCache()
    p = plan_of(QUERIES["similarity_ivfpq"](spark, SF_SMALL))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    assert len(re.findall(r"\(\d+\) MapInPandas", p)) == 2, p
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 1, p
    assert shuffle_exchanges(p) == 1, p
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin",
                 "SortMergeJoin", "BatchEvalPython"):
        assert node not in p, p


def test_persisted_index_search_one_scan_one_arrow_stage(spark):
    """similarity_index_incremental: the persisted-index payoff — at
    QUERY time there is no encode stage at all (codes come off parquet),
    so the plan is ONE codes scan through ONE Arrow stage (ADC with the
    cell mask and top-CAND cut inside the map), candidates into the
    final window, queries broadcast. Stronger than the same-session
    ivfpq pin (2 Arrow stages) by construction."""
    p = plan_of(QUERIES["similarity_index_incremental"](spark, SF_SMALL))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    assert len(re.findall(r"\(\d+\) MapInPandas", p)) == 1, p
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 1, p
    assert shuffle_exchanges(p) == 1, p
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin",
                 "SortMergeJoin", "BatchEvalPython"):
        assert node not in p, p


def test_stream_curation_batch_kernel_shapes(spark, tmp_path):
    """curation_apply_batch's admitted lineage, pinned on the frame the
    kernel itself writes (curation_admitted): the gates are ONE
    map-only scan, the in-batch keepers are partial-combining argmin
    aggregates (keep_min_by — never a window over the md5 key), and the
    prior-hash drop is an anti join — no cartesian anywhere. min(struct)
    keeps no fixed-width buffer, so each keeper plans as a partial and a
    final SortAggregate. The state holds one prior ths delta so the
    anti join is not optimized away."""
    from cqlcopy_spark.streaming.sinks import curation_admitted

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text", "n_chars"
    )
    state = str(tmp_path / "state")
    spark.createDataFrame([("x",)], "th string").write.parquet(
        f"{state}/ths/delta=0"
    )
    p = plan_of(curation_admitted(d, 1, state))
    assert "Window" not in p, p  # hot-key argmin rule
    assert "CartesianProduct" not in p, p
    # two keepers, each partial + final
    assert len(re.findall(r"\(\d+\) (?:Hash|Sort)Aggregate", p)) >= 4, p
    assert p.count("partial_min(") >= 2, p
    assert "LeftAnti" in p, p  # first-delivery-wins against the prior index


def test_curation_gate_sql_text_equivalence(spark):
    """r16 optimization pin: _curation_gated emits the gate as SQL TEXT
    (_spark_gate_exprs — one selectExpr parse instead of hundreds of
    py4j Column constructions per plan build). This test holds it
    value-identical to the Column-built form (_qc_cols +
    _gopher_pass_col, still the definition the standalone quality ops
    use) — any drift between the two gate expressions breaks the
    streamed==one-shot capstone hash equality."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    from cqlcopy_spark.operators.text import (
        _QC_THR_DEN,
        _QC_THR_NUM,
        _curation_gated,
        _gopher_pass_col,
        _qc_cols,
        _tokens,
    )

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text", "n_chars"
    )
    new = _curation_gated(d)
    n_tokens, score_raw = _qc_cols()
    feats = d.select(
        "doc_id",
        "text",
        "n_chars",
        _tokens().alias("toks"),
        n_tokens.alias("n_toks"),
        score_raw.alias("score_raw"),
    )
    old = feats.filter(
        _gopher_pass_col(col("toks"))
        & (
            F.lit(_QC_THR_DEN) * col("score_raw")
            >= F.lit(_QC_THR_NUM) * col("n_toks")
        )
    ).select("doc_id", F.md5("text").alias("th"), "n_toks")
    assert new.schema == old.schema
    assert new.exceptAll(old).isEmpty()
    assert old.exceptAll(new).isEmpty()
    assert new.count() > 0


def test_minhash_sig_sql_text_equivalence(spark):
    """r16 optimization pin: _with_minhash_sig emits the 32-permutation
    signature fold as SQL TEXT (_SIG_SQL — one expr() parse instead of
    ~hundreds of py4j Column constructions per plan build, ~0.37 s
    each). This holds it value-identical to the Column-built form (the
    pre-r16 definition, replicated here verbatim) — sig drift would
    silently change LSH banding and with it every minhash candidate
    set, batch and streaming alike."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    from cqlcopy_spark.operators.dedup import (
        _P,
        _PERMS,
        _with_grams,
        _with_minhash_sig,
    )

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    new = _with_minhash_sig(d)
    hashed = _with_grams(d).select(
        "doc_id",
        "grams",
        F.transform(col("grams"), lambda g: F.xxhash64(g)).alias("hashes"),
    )
    sig = F.transform(
        F.array(
            *[
                F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
                for a, b in _PERMS
            ]
        ),
        lambda p: F.array_min(
            F.transform(
                col("hashes"),
                lambda h: F.pmod(
                    p["a"] * F.pmod(h, F.lit(_P)) + p["b"], F.lit(_P)
                ),
            )
        ),
    )
    old = hashed.select("doc_id", "hashes", sig.alias("sig"))
    assert new.schema == old.schema
    assert new.exceptAll(old).isEmpty()
    assert old.exceptAll(new).isEmpty()
    assert new.count() > 0


def test_components_cap_boundary_both_paths_agree(spark, monkeypatch):
    """dedup_components decides driver-union-find vs distributed loop
    with ONE bounded limit(CAP+1).collect() (r16 — the former
    count+collect pair ran two jobs over the same cached set). Pin the
    boundary semantics on a stubbed pair set: a cap below the edge
    count forces the distributed loop (the collected CAP+1 rows are
    discarded), a cap at/above it takes the driver path off the SAME
    collected rows — identical components either way."""
    import cqlcopy_spark.operators.dedup as dd

    edge_list = [(5, 2), (2, 9), (10, 11), (20, 21), (21, 22)]
    pairs = spark.createDataFrame(edge_list, "d1 long, d2 long")
    docs = spark.createDataFrame(
        [(i,) for i in (2, 5, 9, 10, 11, 20, 21, 22, 99)], "doc_id long"
    )
    monkeypatch.setattr(dd, "dedup_ngram_jaccard", lambda s, sf: pairs)
    monkeypatch.setattr(dd, "table", lambda s, sf, name: docs)

    def run():
        return {
            (r["doc_id"], r["component"])
            for r in dd.dedup_components(spark, "unused").collect()
        }

    expected = {(2, 2), (5, 2), (9, 2), (10, 10), (11, 10),
                (20, 20), (21, 20), (22, 20), (99, 99)}
    assert run() == expected  # default cap ≫ 5 edges: driver path
    monkeypatch.setattr(dd, "_CC_DRIVER_CAP", 3)  # 5 > 3: distributed
    assert run() == expected


def test_gram_sql_text_equivalence(spark):
    """r16 ADVICE pin: _staged_gram_expr emits the distinct-n-gram
    projection as SQL TEXT (one expr() parse instead of the
    transform/concat_ws Column lambda, ~0.1 s of py4j per plan build).
    This holds it value-identical to the Column-built form (the pre-r16
    definition, replicated here verbatim) for the n values the
    operators actually use (3: dedup/minhash grams; 8: the
    contamination window) — a drifted sequence bound or element_at
    offset would silently change every gram-derived candidate set."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    from cqlcopy_spark.operators.dedup import _staged_gram_expr

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    for n in (3, 8):
        toks, expr = _staged_gram_expr(d, n)
        new = toks.select("doc_id", expr.alias("grams"))
        # pre-r16 Column form, verbatim
        old = toks.select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(col("toks")) - (n - 1)),
                    lambda i: F.concat_ws(
                        " ",
                        *[F.element_at(col("toks"), i + k) for k in range(n)],
                    ),
                )
            ).alias("grams"),
        )
        assert new.schema == old.schema, n
        assert new.exceptAll(old).count() == 0, n
        assert old.exceptAll(new).count() == 0, n


@pytest.mark.parametrize(
    "typing",
    [["--types", "long,string"], ["--types", "long,string", "--dynamic"], []],
    ids=["typed", "dynamic", "inferred"],
)
def test_cli_typed_write_has_no_python_stage(spark, tmp_path, typing):
    """No `write` path runs a Python worker — schema-first, cell-dynamic
    (the JVM field tokenizer) or inferred: progress is read from the
    status store, so no MapInPandas / MapInArrow / ArrowEvalPython node
    sits between the CSV scan and the parquet write. Read from the SQL
    status store, so this pins the plans the write actually executed."""
    from cqlcopy_spark.cli import main

    src = tmp_path / "in.csv"
    src.write_text('"id","name"\n1,"a"\n2,NULL\n', encoding="utf-8")
    jsc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def execution_ids() -> set[int]:
        jsc.listenerBus().waitUntilEmpty()
        runs = store.executionsList()
        return {runs.apply(i).executionId() for i in range(runs.size())}

    before = execution_ids()
    rc = main(
        [
            "write", "t", "id", "name", *typing,
            "--input", str(src), "--path", str(tmp_path / "out.parquet"),
        ],
        spark=spark,
    )
    assert rc == 0
    plans = [
        store.execution(i).get().physicalPlanDescription()
        for i in sorted(execution_ids() - before)
    ]
    assert any("InsertIntoHadoopFsRelationCommand" in p for p in plans), plans
    for p in plans:
        for node in ("MapInPandas", "MapInArrow", "ArrowEvalPython"):
            assert node not in p, p


def test_dynamic_read_runs_the_field_tokenizer_once(spark, tmp_path):
    """`read_csv_dynamic` filters on `_parse_error`; the optimizer must not
    push that filter beneath the tokenizer with the regex inlined, or each
    line is tokenized once per reference to the parts (four times)."""
    from pyspark.sql import types as T

    from cqlcopy_spark.sources.csv_source import read_csv_dynamic

    src = tmp_path / "in.csv"
    src.write_text('"id","name"\n1,"a"\n2,NULL\n', encoding="utf-8")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    df = read_csv_dynamic(spark, str(src), schema)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_extract_all(") == 1, plan
