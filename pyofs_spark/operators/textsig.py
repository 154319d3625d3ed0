"""Map-only MinHash signature kernel (round 6, guide §2.4 + §4.2).

The SQL formulation of the signature pipeline
(`plans/queries_text._MINHASH_BODY`) computes word bigram shingles with a
`lead() OVER (PARTITION BY doc_id ORDER BY pos)` window and then
`GROUP BY doc_id` mins — three shuffles of WORD-level rows (posexplode →
window sort → distinct → aggregate). At corpus scale that shuffles the
whole tokenized corpus several times to compute a per-document reduction
that needs no data from any other document.

This kernel computes the identical signatures in ONE map-only pass, fully
vectorized: tokenization via `pyarrow.compute.split_pattern`, word codes
decoded straight from the flat Arrow UTF-8 buffers with numpy (no per-word
Python), per-document segment mins via `np.minimum.reduceat`. Measured
~20x over the per-word Python loop it replaced and ~40x per core over the
shuffled SQL form. Integer semantics are bit-identical to the SQL body
(pinned by tests/test_textsig.py on adversarial unicode corpora and by
the dedup_minhash_sig/lsh oracle gates):

- split(text, ' ')          == pa split_pattern(' ')  (keeps empty tokens,
                                                       incl. trailing)
- ascii(substring(w, k, 1)) == k-th codepoint          (UTF-8 lead-sequence
                                                       decode below)
- length(w)                 == utf8_length             (codepoints)
- all arithmetic in int64; max product 17 * (0x10FFFF*10000*31627) < 2^63.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _value_offsets(arr):
    """The len(arr) + 1 value offsets of a string or list array, as int64.
    The large_* types carry int64 offsets, the others int32; reading one
    width as the other would silently misplace every value."""
    import numpy as np
    import pyarrow as pa

    t = arr.type
    if pa.types.is_large_string(t) or pa.types.is_large_list(t):
        width = np.int64
    elif pa.types.is_string(t) or pa.types.is_list(t):
        width = np.int32
    else:
        raise TypeError(f"expected a string or list array, got {t}")
    return np.frombuffer(arr.buffers()[1], dtype=width)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)


def _first_codepoints(sarr):
    """Codepoint of the FIRST character of every string in a StringArray
    (0 for empty strings), decoded from the raw UTF-8 buffers."""
    import numpy as np
    import pyarrow as pa

    if isinstance(sarr, pa.ChunkedArray):
        sarr = sarr.combine_chunks()
    n = len(sarr)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    off = _value_offsets(sarr)
    buf = sarr.buffers()[2]
    data = (
        np.frombuffer(buf, dtype=np.uint8)
        if buf is not None
        else np.empty(0, np.uint8)
    )
    nb = off[1:] - off[:-1]
    # pad so vectorized b1..b3 loads of a trailing short sequence stay
    # in-bounds (their values are masked out by ch_len)
    d = np.concatenate([data, np.zeros(4, np.uint8)])
    i0 = off[:-1]
    b0 = d[i0].astype(np.int64)
    b1 = d[i0 + 1].astype(np.int64)
    b2 = d[i0 + 2].astype(np.int64)
    b3 = d[i0 + 3].astype(np.int64)
    ch_len = np.where(b0 < 0x80, 1, np.where(b0 < 0xE0, 2, np.where(b0 < 0xF0, 3, 4)))
    cp = np.where(
        ch_len == 1,
        b0,
        np.where(
            ch_len == 2,
            ((b0 & 0x1F) << 6) | (b1 & 0x3F),
            np.where(
                ch_len == 3,
                ((b0 & 0x0F) << 12) | ((b1 & 0x3F) << 6) | (b2 & 0x3F),
                ((b0 & 0x07) << 18)
                | ((b1 & 0x3F) << 12)
                | ((b2 & 0x3F) << 6)
                | (b3 & 0x3F),
            ),
        ),
    )
    return np.where(nb == 0, 0, cp)


def minhash_sigs_arrow(
    docs: DataFrame,
    perms: list[tuple[int, int]],
    prime: int,
    shingle_mult: int = 31627,
) -> DataFrame:
    """(doc_id, text) -> (doc_id, mh0..mh{n-1}); docs with < 2 non-empty
    words are dropped (same as the SQL form, where their only shingle code
    is NULL and the GROUP BY sees no rows). NULL text == empty text."""
    n_perm = len(perms)
    schema = "doc_id bigint, " + ", ".join(f"mh{j} bigint" for j in range(n_perm))

    def gen(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        a_arr = np.array([a for a, _ in perms], dtype=np.int64)[:, None]
        b_arr = np.array([b for _, b in perms], dtype=np.int64)[:, None]
        names = ["doc_id"] + [f"mh{j}" for j in range(n_perm)]
        empty = pa.record_batch(
            [pa.array([], pa.int64()) for _ in names], names=names
        )
        for batch in batches:
            n_docs = batch.num_rows
            if n_docs == 0:
                yield empty
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            words = pc.split_pattern(
                pc.fill_null(batch.column(1), ""), " "
            )
            if isinstance(words, pa.ChunkedArray):
                words = words.combine_chunks()
            flat = words.flatten()
            doc_off = _value_offsets(words)
            # flatten() re-bases its output to the list's first referenced
            # value; offsets here are absolute into the child array, so
            # normalize (no-op for freshly built arrays where off[0]==0)
            doc_off = doc_off - doc_off[0]
            lens = pc.utf8_length(flat).to_numpy(zero_copy_only=False).astype(np.int64)
            c1 = _first_codepoints(flat)
            c2 = _first_codepoints(pc.utf8_slice_codeunits(flat, 1, 2))
            wcode = c1 * 10000 + np.where(lens >= 2, c2, 0) * 100 + lens
            keep = lens > 0
            nwords_all = doc_off[1:] - doc_off[:-1]
            kept_per_doc = np.add.reduceat(keep.astype(np.int64), doc_off[:-1])
            # reduceat at an empty segment start returns the NEXT value —
            # zero it explicitly for 0-word docs (cannot occur after
            # split(), which always yields >= 1 token, but cheap armor)
            kept_per_doc = np.where(nwords_all == 0, 0, kept_per_doc)
            wc = wcode[keep]
            kstart = np.zeros(n_docs + 1, dtype=np.int64)
            np.cumsum(kept_per_doc, out=kstart[1:])
            ok = kept_per_doc >= 2
            if not ok.any():
                yield empty
                continue
            # adjacent-pair shingle codes over the kept-word array, then
            # drop the cross-document boundary pairs
            codes_all = wc[:-1] * shingle_mult + wc[1:]
            mask = np.ones(len(codes_all), dtype=bool)
            seg_ends = kstart[1:][kept_per_doc >= 1] - 1
            seg_ends = seg_ends[seg_ends < len(codes_all)]
            mask[seg_ends] = False
            codes = codes_all[mask]
            shingles_per_doc = np.maximum(kept_per_doc - 1, 0)
            sstart = np.zeros(n_docs, dtype=np.int64)
            np.cumsum(shingles_per_doc[:-1], out=sstart[1:])
            # (n_perm, n_codes) permuted hashes -> per-doc segment mins
            vals = (a_arr * codes[None, :] + b_arr) % prime
            mins = np.minimum.reduceat(vals, sstart[ok], axis=1)
            yield pa.record_batch(
                [pa.array(ids[ok].astype(np.int64), pa.int64())]
                + [pa.array(mins[j], pa.int64()) for j in range(n_perm)],
                names=names,
            )

    return docs.select("doc_id", "text").mapInArrow(gen, schema)


def shingle_counts_arrow(docs: DataFrame, n: int = 5) -> DataFrame:
    """(doc_id, text) -> (doc_id, shingle, c): per-document counts of
    word n-gram shingles, map-only.

    Round-6 measurement story (both directions, recorded so neither gets
    re-litigated): at sf0.1 (5k docs, single-split scan) this kernel is
    ~0.4 s SLOWER end-to-end than the JVM transform/slice/concat_ws HOF
    form — the output shingle strings (~20x the input text bytes) cross
    the Python->JVM Arrow boundary serially. At sf1 (50k docs, fanned out
    by spread_single_split) the kernel is 8.6x faster per core on the pre
    (8.6 s -> 1.0 s noop) and 2.4x end-to-end (12.3 s -> 5.0 s), because
    the interpreted per-element lambda cost scales with shingle count
    while the kernel's dict-count is native-speed; the Arrow transfer
    parallelizes with the fan-out. The kernel is the default; the HOF SQL
    (`_CROSSDOC_PERDOC_SPARK`) remains the parity twin.

    Semantics bit-identical to that SQL form (pinned in
    tests/test_textsig.py): words = split(text, ' ') KEEPING empty tokens,
    shingles are the len(words)-n+1 windows joined with ' ' (concat_ws ==
    str.join for non-null strings), docs with < n words emit nothing,
    NULL text == empty text."""

    def gen(batches):
        import pyarrow as pa

        names = ["doc_id", "shingle", "c"]
        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            out_ids: list[int] = []
            out_sh: list[str] = []
            out_c: list[int] = []
            join = " ".join
            for did, text in zip(ids, texts):
                if text is None:
                    continue
                ws = text.split(" ")
                if len(ws) < n:
                    continue
                counts: dict[str, int] = {}
                for i in range(len(ws) - n + 1):
                    s = join(ws[i : i + n])
                    counts[s] = counts.get(s, 0) + 1
                out_ids.extend([did] * len(counts))
                out_sh.extend(counts.keys())
                out_c.extend(counts.values())
            yield pa.record_batch(
                [
                    pa.array(out_ids, pa.int64()),
                    pa.array(out_sh, pa.string()),
                    pa.array(out_c, pa.int64()),
                ],
                names=names,
            )

    return docs.select("doc_id", "text").mapInArrow(
        gen, "doc_id bigint, shingle string, c bigint"
    )
