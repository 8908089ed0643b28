"""Banded near-duplicate skeleton shared by every signature-banding operator.

A banded near-dup operator turns each item's signature into a few band
keys, equi-joins items that share a (band, key), and verifies every
candidate with an exact distance.  The image (dHash), audio (zero-crossing
windows) and video (per-position frame dHash) families, minhash and
simhash all have this shape; each supplies only its signature columns,
its band-key expressions and its distance.  Plain DataFrame code: no UDFs,
so the band join and the verify stay in whole-stage codegen.

The media families band over DISTINCT signatures
(:func:`signature_classes`): candidacy (band-key equality) and the verify
are functions of the signatures alone, so the band join needs one row per
signature, not per item, and confirmed signature pairs expand back to item
pairs (:func:`banded_pairs`).  Same-signature items share every band and
measure distance 0, so they are emitted by a keyed intra-class self-join.
The pair listing stays quadratic in class size by definition (that is the
answer's size); what shrinks is the band join's input on
exact-duplicate-heavy corpora.

Star + bridge edges (:func:`banded_star_edges`): connected components do
not need the clique of a duplicate class.  One STAR edge per non-rep member
(rep -> member) plus one BRIDGE edge per confirmed signature pair
(rep_a -> rep_b) has the same closure as the confirmed pair graph:
every star or bridge edge joins confirmed near-dups (identical signatures
share all bands at distance 0; a bridge is confirmed by construction), so
the star closure is no coarser; conversely any confirmed pair (a, b) is
rep_a - a and rep_b - b star-connected and rep_a - rep_b bridge-connected
(or same-signature).  Edge count: (items - distinct signatures) stars +
confirmed signature pairs, linear where the clique feed is quadratic.
Pinned by the ``test_*_star_edges_linear_in_duplicate_class`` tests.

Optimizer-shape rule (:func:`confirmed_sig_pairs`): the verify distance is
computed BEFORE the ``distinct`` and the confirmed set is lazily
checkpointed.  rep identifies its signature, so (rep_a, rep_b) determines
the distance and both forms are equivalent; but carrying the raw signature
columns above the distinct and under the member-expansion joins sends
Catalyst's constraint propagation into a multi-minute ExpressionSet grind
(the ``bit_count`` / ``greatest(abs(...))`` verify trees re-derived
through every join), while this shape plans in milliseconds and the
checkpoint caps the Pregel consumers' re-planning cost.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def stack_bands(
    df: DataFrame,
    id_col: str,
    keys: Sequence[Column],
    carry: Sequence[str] = (),
    out_id: str | None = None,
) -> DataFrame:
    """(id, *carry, band, key): one row per band key, band = the key's
    position in ``keys``.  One explode of a struct array, not a per-band
    union: a b-way union is b plan subtrees and b task sets, the explode
    is a single narrow pass emitting the same rows."""
    out = out_id or id_col
    return df.select(
        F.col(id_col).alias(out) if out_id else id_col,
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), k.alias("key"))
                    for i, k in enumerate(keys)
                ]
            )
        ).alias("bk"),
    ).select(out, *carry, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def band_self_join(stacked: DataFrame, id_col: str, *cols: Column) -> DataFrame:
    """Candidate pairs of a band stack: rows of ``stacked`` aliased ``a``
    and ``b`` sharing a (band, key), ``a.id < b.id``, projected to
    ``cols``.  A pair sharing several bands appears once per shared band;
    callers deduplicate after projecting."""
    a, b = stacked.alias("a"), stacked.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(*cols)


def hamming64(a: str | Column, b: str | Column) -> Column:
    """Exact 64-bit Hamming distance between two 16-hex-char columns as a
    sum of four 16-bit chunk xors; stays in whole-stage codegen."""
    total = F.lit(0).cast("long")
    for i in range(4):
        ca = F.conv(F.substring(a, 4 * i + 1, 4), 16, 10).cast("long")
        cb = F.conv(F.substring(b, 4 * i + 1, 4), 16, 10).cast("long")
        total = total + F.bit_count(ca.bitwiseXOR(cb))
    return total


def signature_classes(
    fps: DataFrame, id_col: str, sig_cols: Sequence[str]
) -> tuple[DataFrame, DataFrame]:
    """(sigs, members): one row per DISTINCT signature (*sig_cols, rep =
    min id) and the (id, rep) map.  Both lazily checkpointed: sigs feeds
    the band stack, members the expansion joins and the star edges."""
    sigs = (
        fps.groupBy(*sig_cols)
        .agg(F.min(id_col).alias("rep"))
        .localCheckpoint(eager=False)
    )
    members = (
        fps.join(sigs, list(sig_cols))
        .select(id_col, "rep")
        .localCheckpoint(eager=False)
    )
    return sigs, members


def confirmed_sig_pairs(
    sigs: DataFrame,
    sig_cols: Sequence[str],
    keys: Sequence[Column],
    distance: Callable[[str, str], Column],
    dist_col: str,
    max_dist: int,
) -> DataFrame:
    """(rep_a, rep_b, dist_col): confirmed DISTINCT-signature pairs — the
    band join over ``sigs`` plus the exact verify ``distance("a", "b")``
    (an expression over the two sides' ``sig_cols``), under the
    optimizer-shape rule in the module note."""
    return (
        band_self_join(
            stack_bands(sigs, "rep", keys, carry=sig_cols),
            "rep",
            F.col("a.rep").alias("rep_a"),
            F.col("b.rep").alias("rep_b"),
            distance("a", "b").alias(dist_col),
        )
        .distinct()
        .filter(F.col(dist_col) <= max_dist)
        .localCheckpoint(eager=False)
    )


def banded_pairs(fps: DataFrame, id_col: str, **spec) -> DataFrame:
    """(<stem>_a, <stem>_b, dist_col) confirmed item pairs of a fingerprint
    table, stem = ``id_col`` without ``_id``: every member pair of each
    confirmed signature pair, plus every same-signature member pair at
    distance 0.  ``spec`` is the :func:`confirmed_sig_pairs` keyword set
    (sig_cols, keys, distance, dist_col, max_dist)."""
    sigs, members = signature_classes(fps, id_col, spec["sig_cols"])
    conf = confirmed_sig_pairs(sigs, **spec)
    stem, dist_col = id_col.removesuffix("_id"), spec["dist_col"]
    ma = members.select(F.col("rep").alias("rep_a"), F.col(id_col).alias("ma"))
    mb = members.select(F.col("rep").alias("rep_b"), F.col(id_col).alias("mb"))
    cross = (
        conf.join(ma, "rep_a")
        .join(mb, "rep_b")
        .select(
            F.least("ma", "mb").alias(f"{stem}_a"),
            F.greatest("ma", "mb").alias(f"{stem}_b"),
            dist_col,
        )
    )
    m1, m2 = members.alias("m1"), members.alias("m2")
    intra = m1.join(
        m2,
        (F.col("m1.rep") == F.col("m2.rep"))
        & (F.col(f"m1.{id_col}") < F.col(f"m2.{id_col}")),
    ).select(
        F.col(f"m1.{id_col}").alias(f"{stem}_a"),
        F.col(f"m2.{id_col}").alias(f"{stem}_b"),
        F.lit(0).cast("long").alias(dist_col),
    )
    return cross.unionAll(intra)


def banded_star_edges(fps: DataFrame, id_col: str, **spec) -> DataFrame:
    """(doc_a, doc_b) star + bridge edges of a fingerprint table,
    component-equivalent to the :func:`banded_pairs` graph (proof in the
    module note; same ``spec``)."""
    sigs, members = signature_classes(fps, id_col, spec["sig_cols"])
    star = members.filter(F.col(id_col) != F.col("rep")).select(
        F.col("rep").alias("doc_a"), F.col(id_col).alias("doc_b")
    )
    bridges = confirmed_sig_pairs(sigs, **spec).select(
        F.col("rep_a").alias("doc_a"), F.col("rep_b").alias("doc_b")
    )
    return star.unionAll(bridges)
