"""Business-object nesting (E14 / O32) — the reference's legacy/latent
hierarchical data model, implemented natively.

Reference: mapping JSON carries ``relations[{detail, schemafield,
joincondition[{left, right}]}]`` (golden sample tmp JSON:76-160) and the UI5
editor builds master+detail join conditions (EditBusinessObject.view:72-105);
the Java parser never materializes it (parseValues,
S4HanaTableMapping.java:248-254 copies only the flat keys). In Spark, nested
documents are first-class: detail rows become an ``ArrayType(StructType)``
field on the master row.

Scale notes: the groupBy(collect_list) shuffles detail rows once on the join
key. For 100 TB, pre-bucket master and detail on the join key so both the
join and the aggregation are co-partitioned (single shuffle-free stage);
``array_sort`` keeps the nested array deterministic without a global sort.
Guard against hot keys: a single master with millions of detail rows will
blow executor memory — cap with ``slice`` after sorting if the model allows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def nest(
    master: DataFrame,
    detail: DataFrame,
    joincondition: list[dict],
    schemafield: str,
    detail_cols: list[str] | None = None,
    sort_detail_by: list[str] | None = None,
) -> DataFrame:
    """Nest ``detail`` rows under each ``master`` row as an array of structs.

    ``joincondition`` uses the reference's JSON shape:
    ``[{"left": master_col, "right": detail_col}, ...]``.

    Implementation: aggregate the detail side FIRST (one struct array per
    join key), then LEFT-join the (now key-unique) aggregate onto master —
    agg-before-join keeps the join's right side small and skew-resistant,
    the same plan-shape rule as the CDC delta (SURVEY §4). Masters without
    details get an empty array (not NULL), matching document semantics.

    ``sort_detail_by`` orders each nested array: the collected structs are
    wrapped as (sort keys..., payload) so ``array_sort``'s field-order
    comparison sorts by the REQUESTED keys (the remaining payload fields
    break any ties deterministically), then the wrapper projects away —
    array_sort over the bare payload struct would sort by ``detail_cols``
    order instead, silently ignoring the contract whenever the sort key is
    not the first detail column.

    PREFIX FAST PATH (optimization r12, guide §2.3 "shuffle fewer bytes"):
    when the sort keys are exactly a leading prefix of ``detail_cols`` —
    including the default ``sort_detail_by=None``, where they are ALL of
    them — the wrapper is pure overhead: ``array_sort`` over the bare
    payload struct already compares the prefix fields first and the
    remaining payload fields as the same deterministic tiebreak. The
    wrapper's duplicated sort-key columns would ride the collect_list
    shuffle (every detail row!) and pay one ``transform`` pass per array,
    for an ordering that is provably identical. The wrapper shape is kept
    only for genuinely non-prefix sort keys.
    """
    left_keys = [jc["left"] for jc in joincondition]
    right_keys = [jc["right"] for jc in joincondition]
    dcols = detail_cols or [c for c in detail.columns if c not in right_keys]
    sort_keys = sort_detail_by or dcols

    struct_col = F.struct(*[F.col(c) for c in dcols])
    if sort_keys == dcols[: len(sort_keys)]:
        collected = F.array_sort(F.collect_list(struct_col))
    else:
        sorter = F.struct(
            *[F.col(c).alias(f"__k{i}") for i, c in enumerate(sort_keys)],
            struct_col.alias("__payload"),
        )
        collected = F.transform(
            F.array_sort(F.collect_list(sorter)), lambda x: x["__payload"]
        )
    grouped = detail.groupBy(*[F.col(k) for k in right_keys]).agg(
        collected.alias(schemafield)
    )
    cond = [master[l] == grouped[r] for l, r in zip(left_keys, right_keys)]
    joined = master.join(grouped, cond, "left")
    return joined.select(
        *[master[c] for c in master.columns],
        F.coalesce(F.col(schemafield), F.array().cast(grouped.schema[schemafield].dataType)).alias(
            schemafield
        ),
    )


def maintain_nested_docs(
    nested_snapshot: DataFrame,
    master: DataFrame,
    detail: DataFrame,
    master_batch: DataFrame,
    detail_batch: DataFrame,
    master_pk: list[str],
    joincondition: list[dict],
    schemafield: str,
    detail_cols: list[str] | None = None,
    sort_detail_by: list[str] | None = None,
    check_delete_keys: bool = True,
    strict_update_keys: bool = False,
) -> DataFrame:
    """Incrementally maintain a materialized nested-document table under
    master+detail CDC batches: re-nest ONLY the documents whose master row
    changed or whose detail set changed, keep every other document as-is.

    BATCH CONTRACT for detail-side key changes: a U row carries
    only its NEW join key, so the OLD parent's document re-nests only if
    the old key is also visible in the batch — deliver key changes as a
    D(old)+I(new) pair (``pk_change_expand`` does this when the key is in
    the detail PK). In particular an FK->NULL UPDATE delivered as a bare U
    row is SILENTLY incomplete under the default settings: the NULL key is
    dropped from the probe set (NULL never joins) and the detached detail's
    old parent keeps its stale nested document. Feeds that cannot guarantee
    D+I delivery must pass ``strict_update_keys=True``, which rejects
    non-delete batch rows carrying NULL join keys instead of maintaining
    from them; feeds with genuinely-nullable FKs (orphaned details are a
    legal steady state) keep the default and own the contract upstream.

    This is the composition the reference implies but never ships: its
    latent BO model (tmp JSON:76-160, EditBusinessObject.view:72-105)
    defines the nested document, its delta loop (S4HanaProducer.java)
    ships row-level changes — "detail row changed => re-emit the affected
    nested document" is what a consumer of both must do.

    Inputs: ``master``/``detail`` are the POST-merge (current) tables;
    ``master_batch``/``detail_batch`` are the CDC batches that produced
    them (``_change_type`` + at least the key columns; delete rows carry
    their PK, the cdc_delta output shape). The maintained output equals
    ``nest(master, detail, ...)`` recomputed from scratch — that equality
    is the oracle (``cdc_nested_bo_maintenance``).

    Scale: the affected-key sets are delta-sized and BROADCAST; the big
    sides are touched exactly once each — snapshot anti-join (removes
    stale docs), master semi-join, detail semi-join (both prune to
    delta-sized subsets before the nest's shuffle). Nothing re-nests the
    100 TB document table; the nest runs on |affected| masters only."""
    left_keys = [jc["left"] for jc in joincondition]
    right_keys = [jc["right"] for jc in joincondition]

    # Masters to recompute: (a) every PK in the master batch (U/I rebuild,
    # D drops below), (b) every master whose join key appears in the
    # detail batch. PRECONDITION: detail-batch rows — deletes included —
    # carry their JOIN KEYS, not just their PKs (cdc_delta delete rows null
    # out non-PK columns, so a join key outside the detail PK arrives NULL
    # and the deleted detail's document would silently never re-nest,
    # diverging from a recompute). Checked loudly: one bounded delta-sized
    # probe, a job this operator's callers already pay many of.
    from_master = master_batch.select(*master_pk).distinct()
    changed_keys = detail_batch.select(
        *[F.col(r).alias(l) for l, r in zip(left_keys, right_keys)]
    ).distinct()
    null_key = None
    for k in left_keys:
        c = F.col(k).isNull()
        null_key = c if null_key is None else (null_key | c)
    # The stale-document hazard is DELETE-specific: a delete row whose join
    # key got nulled out (cdc_delta nulls non-PK columns on 'D') means the
    # deleted detail's document silently never re-nests. A NULL join key on
    # an insert/update is a legitimately-orphaned detail — NULL never joins,
    # exactly as a full re-nest would treat it — so probing those rows would
    # hard-fail feeds with nullable FKs that are perfectly maintainable.
    # ``check_delete_keys=False`` skips the (delta-sized, but eager) probe
    # job for callers on a hot poll loop that enforce the contract upstream.
    if check_delete_keys:
        if "_change_type" not in detail_batch.columns:
            # a keys-only batch with the change type projected away cannot
            # be probed — refusing loudly beats silently skipping the very
            # check that prevents stale documents (opt out explicitly if
            # the feed genuinely has no delete legs)
            raise ValueError(
                "detail batch has no _change_type column, so the delete-row "
                "join-key probe cannot run; pass check_delete_keys=False if "
                "this feed carries no deletes"
            )
        del_keys = detail_batch.filter(F.col("_change_type") == "D").select(
            *[F.col(r).alias(l) for l, r in zip(left_keys, right_keys)]
        )
        if not del_keys.filter(null_key).isEmpty():
            raise ValueError(
                "detail batch carries delete rows with NULL join-key values "
                f"— include the join keys {right_keys} on every delete row "
                "(put them in the detail PK or enrich the delete leg), else "
                "deleted details leave stale nested documents"
            )
    # NULL keys on non-delete rows never join; drop them so the broadcast
    # semi-join below doesn't carry useless NULL probe rows. The batch
    # contract this implies for FK UPDATES (incl. FK->NULL detachment) is
    # spelled out in the function docstring; strict mode makes it a runtime
    # error for feeds that cannot guarantee D(old)+I(new) delivery.
    if strict_update_keys:
        nondel = (
            detail_batch.filter(F.col("_change_type") != "D")
            if "_change_type" in detail_batch.columns
            else detail_batch
        )
        nondel_keys = nondel.select(
            *[F.col(r).alias(l) for l, r in zip(left_keys, right_keys)]
        )
        if not nondel_keys.filter(null_key).isEmpty():
            raise ValueError(
                "strict_update_keys: detail batch carries non-delete rows "
                f"with NULL join-key values ({left_keys}) — an FK->NULL "
                "update delivered as a bare U row leaves the OLD parent's "
                "nested document stale; deliver key changes as D(old)+I(new) "
                "or disable strict mode if orphaned details are legal here"
            )
    changed_keys = changed_keys.filter(~null_key)
    via_detail = master.join(
        F.broadcast(changed_keys), on=left_keys, how="left_semi"
    ).select(*master_pk)
    affected = from_master.unionByName(via_detail).distinct()

    # Re-nest the affected documents from the current tables: ALL detail
    # rows of an affected master, not only the changed ones.
    re_master = master.join(F.broadcast(affected), on=master_pk, how="left_semi")
    affected_left = re_master.select(*left_keys).distinct()
    re_detail = detail.join(
        F.broadcast(
            affected_left.select(
                *[F.col(l).alias(r) for l, r in zip(left_keys, right_keys)]
            )
        ),
        on=right_keys,
        how="left_semi",
    )
    rebuilt = nest(
        re_master,
        re_detail,
        joincondition=joincondition,
        schemafield=schemafield,
        detail_cols=detail_cols,
        sort_detail_by=sort_detail_by,
    )

    # Deleted masters are in `affected` (their PK was in the batch) but not
    # in `re_master` (gone from the merged table) — the anti-join removes
    # their stale doc and nothing re-adds it.
    untouched = nested_snapshot.join(
        F.broadcast(affected), on=master_pk, how="left_anti"
    )
    return untouched.unionByName(rebuilt)


def materialize_business_object(mapping, load_table, keep_keys: tuple = ()):
    """Walk a TableMapping's ``relations`` tree RECURSIVELY (the reference's
    latent model allows relations inside detail mappings, tmp JSON:148) and
    materialize the full nested document: master projection, one
    ArrayType(StructType) field per relation, details nested depth-first so
    a detail's own relations appear inside its structs.

    ``load_table(name) -> DataFrame`` supplies source tables.  ``keep_keys``
    are join-key columns a parent needs that are not in this level's
    columnmappings (they are projected through but excluded from the parent's
    nested struct).

    Scale: each nesting level is one groupBy(collect_list) + left join on
    the relation key — at 100 TB, co-bucket master and details on the join
    keys (operators/bucketing.py) and every level is shuffle-free.
    """
    df = load_table(mapping.mastertable)
    aliases = {cm.alias for cm in mapping.columnmappings}
    extra = [F.col(k) for k in keep_keys if k not in aliases]
    out = df.select(*extra, *mapping.projection())
    for rel in mapping.relations:
        right_keys = tuple(jc["right"] for jc in rel.joincondition)
        detail = materialize_business_object(rel.detail, load_table, right_keys)
        out = nest(
            out,
            detail,
            joincondition=rel.joincondition,
            schemafield=rel.schemafield,
            detail_cols=[c for c in detail.columns if c not in right_keys],
        )
    return out
