"""Native sketch blobs → REFERENCE wire bytes (the JVM-migration
direction for job outputs).

Which kinds are exportable is a semantic question, not a format one:

  hll          sound — ``HyperLogLogPlus.getBytes`` layout via
               ``hll_wire``; cardinality estimation never re-hashes
               items, so a register state built with a different
               (uniform) hash family is a valid HLL++ the JVM can load,
               estimate, and merge with other sketches of the same
               hash family.
  tdigest      sound — centroids store VALUES; no hashing anywhere.
  qdigest      sound — tree nodes store value ranges.
  spacesaving  sound — counters store the ITEMS explicitly
               (``spacesaving_wire``: Externalizable JOS stream).
  cms, bloom   exportable IFF built in the reference hash family
               (``SketchSpec(..., hash_family='reference')`` →
               ``reference_family.py``): the JVM probes by re-hashing
               the query item with ITS hash family at query time, so a
               table/bitset built with our xxhash64 update path would
               answer garbage — the export path detects the blob kind
               and refuses native-family state with a pointer to the
               build mode.  (Their ``*_wire`` codecs also round-trip
               REFERENCE-built blobs for import/query/merge.)
  linearcounting, loglog, adaptivecounting
               exportable IFF built in the reference hash family:
               estimation never re-hashes, but cross-system UNIONS and
               continued JVM-side offer() of an overlapping stream
               double-count unless both sides hashed items identically
               (murmur2-32 / lookup3ycs64 update paths, golden-tested).
  kll, bottomk no reference counterpart format.
  countthenestimate  exportable IFF built in the reference family
               (``reference_family.ReferenceFamilyCTE``): the untipped
               phase counts RAW items, so the JOS stream carries real
               elements; native untipped state holds our 64-bit hashes
               and still refuses.
"""

from __future__ import annotations

EXPORTABLE = ("hll", "tdigest", "qdigest", "spacesaving", "cms", "bloom",
              "linearcounting", "loglog", "adaptivecounting",
              "countthenestimate", "hllc")


def reference_wire_udf(kind: str):
    """Arrow UDF converting a column of native sketch blobs to
    reference wire bytes (blob-per-row; state, not rows, crosses).
    NULL blobs (e.g. from an outer join of sketch tables) pass through
    as NULL rather than TypeError-ing deep in the executor."""
    from pyspark.sql import types as T

    from ..functions import _blob_udf

    return _blob_udf(T.BinaryType(), lambda b: to_reference_wire(kind, b))


def to_reference_wire(kind: str, blob: bytes) -> bytes:
    """One native sketch blob (our versioned codec) → reference bytes."""
    if kind == "hll_classic":
        kind = "hllc"  # import/export use one vocabulary; both accepted
    if kind == "hll":
        from .hll import HllPlusPlus
        from .hll_wire import to_reference_bytes

        return to_reference_bytes(HllPlusPlus.from_bytes(blob))
    if kind == "tdigest":
        from .tdigest import TDigest
        from .tdigest_wire import to_reference_bytes

        return to_reference_bytes(TDigest.from_bytes(blob))
    if kind == "qdigest":
        from .qdigest import QDigest
        from .qdigest_wire import to_reference_bytes

        return to_reference_bytes(QDigest.from_bytes(blob))
    if kind == "spacesaving":
        from .spacesaving import SpaceSaving
        from .spacesaving_wire import from_native, to_reference_bytes

        return to_reference_bytes(from_native(SpaceSaving.from_bytes(blob)))
    if kind in ("cms", "bloom", "linearcounting", "loglog", "adaptivecounting",
                "countthenestimate", "hllc"):
        from .base import KIND_BLOOM, KIND_CMS, KIND_LINEARCOUNTING, KIND_LOGLOG, unpack_header
        from .countthenestimate import KIND_CTE
        from . import reference_family as rf

        allowed = {
            "cms": (rf.ReferenceFamilyCMS,),
            "bloom": (rf.ReferenceFamilyBloom,),
            "linearcounting": (rf.ReferenceFamilyLC,),
            "loglog": (rf.ReferenceFamilyLogLog, rf.ReferenceFamilyAdaptiveCounting),
            "adaptivecounting": (rf.ReferenceFamilyAdaptiveCounting,),
            "countthenestimate": (rf.ReferenceFamilyCTE,),
            "hllc": (rf.ReferenceFamilyHLLClassic,),
        }[kind]
        _, blob_kind = unpack_header(blob)
        for cls in allowed:
            if blob_kind == cls._KIND_ID:
                return cls.from_bytes(blob).to_reference_bytes()
        all_ref = {c._KIND_ID: c.__name__ for c in (
            rf.ReferenceFamilyCMS, rf.ReferenceFamilyBloom, rf.ReferenceFamilyLC,
            rf.ReferenceFamilyLogLog, rf.ReferenceFamilyAdaptiveCounting,
            rf.ReferenceFamilyCTE, rf.ReferenceFamilyHLLClassic)}
        if blob_kind in all_ref:
            # crossed wires: a reference-family blob of a DIFFERENT kind
            # must not silently export as this one
            raise ValueError(
                f"kind/blob mismatch: asked to export {kind!r} but the blob "
                f"is a {all_ref[blob_kind]} state")
        native_ids = {"cms": KIND_CMS, "bloom": KIND_BLOOM,
                      "linearcounting": KIND_LINEARCOUNTING,
                      "loglog": KIND_LOGLOG, "countthenestimate": KIND_CTE}
        if blob_kind == native_ids.get(kind):
            raise ValueError(
                f"this {kind} state was built with the native hash family — the "
                f"JVM hashes items with ITS family (probe-time for cms/bloom, "
                f"update-time for the cardinality kinds, where cross-system "
                f"unions and continued offer() need bit-parity); rebuild with "
                f"SketchSpec({kind!r}, ..., hash_family='reference')"
            )
        raise ValueError(f"unrecognized sketch blob (kind id {blob_kind}) for {kind!r}")
    raise ValueError(
        f"sketch kind {kind!r} has no sound reference export "
        f"(exportable: {', '.join(EXPORTABLE)}) — see wire_export.py for why"
    )


def from_reference_wire(kind: str, blob: bytes):
    """Reference wire bytes → a queryable sketch: NATIVE where the
    transplant is sound (hll/tdigest/qdigest/spacesaving — these merge
    with native-built state), otherwise the reference-format wrapper
    that queries/merges/re-serializes with the REFERENCE's own hash
    family (cms/bloom/lc/loglog/adaptive/hllc/cte).  The uniform import
    entry for a JVM user migrating stored stream-lib blobs in."""
    if kind == "hll":
        from .hll_wire import from_reference_bytes

        return from_reference_bytes(blob)
    if kind == "tdigest":
        from .tdigest_wire import from_reference_bytes

        return from_reference_bytes(blob)
    if kind == "qdigest":
        from .qdigest_wire import from_reference_bytes

        return from_reference_bytes(blob)
    if kind == "spacesaving":
        from .spacesaving_wire import parse_reference_bytes

        return parse_reference_bytes(blob).to_native()
    if kind == "cms":
        from .cms_wire import ReferenceCMS

        return ReferenceCMS.from_bytes(blob)
    if kind == "bloom":
        from .bloom_wire import ReferenceBloom

        return ReferenceBloom.from_bytes(blob)
    if kind == "linearcounting":
        import numpy as np

        from .lc_wire import ReferenceLC

        return ReferenceLC(np.frombuffer(blob, dtype=np.uint8).copy())
    if kind == "loglog":
        from .loglog_wire import ReferenceLogLog

        return ReferenceLogLog(blob)
    if kind == "adaptivecounting":
        from .loglog_wire import ReferenceAdaptiveCounting

        return ReferenceAdaptiveCounting(blob)
    if kind in ("hll_classic", "hllc"):
        from .loglog_wire import ReferenceHyperLogLog

        return ReferenceHyperLogLog.from_bytes(blob)
    if kind == "countthenestimate":
        from .cte_wire import parse_reference_bytes

        return parse_reference_bytes(blob)
    raise ValueError(f"unknown reference wire kind {kind!r}")
