"""orc_format_spark — a PySpark-native per-column lightweight-compression engine.

Built from scratch (NOT a port) with the codec semantics of the reference
decoder toolkit ``DataEngineeringLabs/orc-format`` (/root/reference): ORC-style
dictionary encoding with sorted dictionaries, integer RLE v2
(short-repeat / direct / delta / patched-base), boolean/byte RLE, raw IEEE
floats, string direct encoding, plus FSST symbol-table compression,
bit-packing and frame-of-reference — all implemented as vectorized numpy
kernels invoked from Arrow-batched ``mapInArrow`` tasks, one stripe at a
time, with a per-stripe codec auto-selector, a footer-style manifest table
that reads are planned from on the driver, per-commit lineage records, and
salted repartitioning for skew.

Layout:
    codecs/    pure-numpy codec kernels (no Spark imports)
    selector   per-column codec auto-selection (NDV / run hist / entropy)
    stripe     stripe encode/decode, Arrow-native (plus a pandas form)
    pipeline   Spark jobs: encode/decode DataFrames, lineage, resume
    transcripts  deterministic synthetic transcripts generator (FIXTURES.md A)
    ops/       large-scale training-data pipeline operators (dedup, ANN,
               text analysis, multimodal plumbing)
"""

__version__ = "0.1.0"


def _tune_malloc() -> None:
    """Keep large numpy buffers inside the glibc arena instead of per-call
    mmap/munmap. The codec kernels allocate multi-MB temporaries per stripe;
    with tens of concurrent Python workers, munmap-driven TLB shootdowns
    serialize the whole box (measured 7x aggregate throughput loss at 32
    procs on this host). mallopt at import time covers every process that
    imports the engine — driver and Spark Python workers alike."""
    import ctypes
    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        M_TRIM_THRESHOLD, M_MMAP_THRESHOLD = -1, -3
        libc.mallopt(M_MMAP_THRESHOLD, 1 << 30)
        libc.mallopt(M_TRIM_THRESHOLD, 1 << 30)
    except Exception:
        pass  # non-glibc platform: harmless to skip


_tune_malloc()
