"""Seeded, vectorised input generators for the benchmark.

Everything here is a pure function of a ``numpy.random.Generator``: the
same seed gives byte-identical inputs. The program under test only ever
sees the files these functions write.

* ``alignment_sample``: one sequencing sample — MT and NT alignment
  tables typed exactly as ``sources.bam.ALIGNMENT_SCHEMA`` — plus the
  per-alignment ground truth (planted variants, validity) that
  ``truth_features`` turns into the expected per-read feature table.
* ``ld_table`` / ``numt_table`` / ``training_features``: the classify
  dimensions and the labelled set the RF model is trained on.
* ``tpch_tables``: the TPC-H-like star schema (+ events, documents,
  embeddings) the Q01-Q15 mix reads, with the column types the
  ``catalog`` expects.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa

MT_LENGTH = 16_569
READ_LENGTH = 100
NT_CHROMS = [str(i) for i in range(1, 23)] + ["X"]
NT_CHROM_LENGTH = 2_000_000
BASES = np.frombuffer(b"ACGT", dtype=np.uint8)
LD_ROWS = 88_237  # rows in the reference's mitomap.ld
LD_SCALE = 100_000  # pipeline.ld.LD_SCALE

# pyarrow twin of sources.bam.ALIGNMENT_SCHEMA (nullability included):
# pandas-typed frames (int64 mapq) fail the explicit-schema parquet read
ALIGNMENT_ARROW = pa.schema(
    [
        pa.field("read_name", pa.string(), nullable=False),
        pa.field("chrom", pa.string()),
        pa.field("start", pa.int64()),
        pa.field("mapq", pa.int32()),
        pa.field("attributes", pa.string()),
        pa.field("seq", pa.string()),
        pa.field("md", pa.string()),
        pa.field("primary_alignment", pa.bool_()),
        pa.field("read_paired", pa.bool_()),
        pa.field("proper_pair", pa.bool_()),
        pa.field("mate_mapped", pa.bool_()),
        pa.field("supplementary", pa.bool_()),
    ]
)


# ------------------------------------------------------------ alignments
@dataclass
class LdDimension:
    """The LD table as written (``variant1``, ``variant2``, ``r``) and its
    integer scores keyed by canonical (least, greatest) pair."""

    frame: pd.DataFrame
    scores: dict[tuple[str, str], int]
    hot_base: np.ndarray  # per genome position (1-based): planted base or 0


def ld_table(rng: np.random.Generator, n_rows: int = LD_ROWS) -> LdDimension:
    """An LD table of ``n_rows`` distinct unordered variant pairs.

    Variants are drawn from a "hot" set (one planted base at ~40% of MT
    positions) so reads that carry hot variants form scorable pairs.
    Pairs are mostly close (co-occur within one read pair); r is chosen
    so ``int(r * 1e5)`` truncates to a known non-zero score.
    """
    hot_base = np.zeros(MT_LENGTH + 1, dtype=np.uint8)
    hot_pos = np.flatnonzero(rng.random(MT_LENGTH) < 0.4) + 1
    hot_base[hot_pos] = BASES[rng.integers(0, 4, hot_pos.size)]

    # oversample candidate pairs, keep the first n_rows distinct ones
    m = int(n_rows * 1.3)
    i = rng.integers(0, hot_pos.size, m)
    gap = rng.integers(1, 400, m)
    j = np.searchsorted(hot_pos, hot_pos[i] + gap).clip(max=hot_pos.size - 1)
    p1, p2 = hot_pos[i], hot_pos[j]
    keep = p1 != p2
    p1, p2 = p1[keep], p2[keep]
    v1 = _variant_strings(p1, hot_base[p1])
    v2 = _variant_strings(p2, hot_base[p2])
    lo, hi = np.where(v1 < v2, v1, v2), np.where(v1 < v2, v2, v1)
    _, first = np.unique(np.char.add(np.char.add(lo, "|"), hi), return_index=True)
    first = np.sort(first)[:n_rows]
    if first.size < n_rows:
        raise ValueError("ld_table: not enough distinct pairs")
    lo, hi = lo[first], hi[first]
    score = rng.integers(1, 90_000, n_rows) * np.where(rng.random(n_rows) < 0.2, -1, 1)
    # half a unit away from the integer so truncation lands on it exactly
    r = (score + np.sign(score) * 0.5) / LD_SCALE
    swap = rng.random(n_rows) < 0.5  # file order is not canonical
    frame = pd.DataFrame(
        {
            "variant1": np.where(swap, hi, lo),
            "variant2": np.where(swap, lo, hi),
            "r": r,
        }
    )
    scores = dict(zip(zip(lo.tolist(), hi.tolist()), score.tolist()))
    return LdDimension(frame=frame, scores=scores, hot_base=hot_base)


def numt_table(rng: np.random.Generator, n: int = 25) -> pd.DataFrame:
    """NUMT intervals (chrom, start, end, score) on the NT chromosomes."""
    start = rng.integers(1, NT_CHROM_LENGTH - 250_000, n)
    return pd.DataFrame(
        {
            "chrom": np.array(NT_CHROMS)[rng.integers(0, len(NT_CHROMS), n)],
            "start": start,
            "end": start + rng.integers(5_000, 200_000, n),
            "score": np.round(rng.uniform(0.1, 1.0, n), 3),
        }
    )


@dataclass
class Sample:
    """One sample's alignment tables and the truth behind them."""

    name: str
    mt: pa.Table
    nt: pa.Table
    mt_read: np.ndarray  # read index per MT alignment
    mt_valid: np.ndarray  # passes the pipeline's validity filter
    mt_variants: list[list[str]]  # planted variants per MT alignment
    nt_read: np.ndarray  # read index per NT alignment (-1: NT-only read)
    nt_valid: np.ndarray
    n_reads: int


def _variant_strings(pos: np.ndarray, base_codes: np.ndarray) -> np.ndarray:
    return np.char.add(pos.astype(str), base_codes.astype(np.uint8).view("S1").astype(str))


def _flags(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    return {
        "primary_alignment": rng.random(n) > 0.03,
        "read_paired": rng.random(n) > 0.02,
        "proper_pair": rng.random(n) > 0.02,
        "mate_mapped": rng.random(n) > 0.02,
        "supplementary": rng.random(n) < 0.02,
    }


def _valid(flags: dict[str, np.ndarray]) -> np.ndarray:
    return (
        flags["primary_alignment"]
        & flags["read_paired"]
        & flags["proper_pair"]
        & flags["mate_mapped"]
        & ~flags["supplementary"]
    )


def _attributes(nh: np.ndarray, nm: np.ndarray, xq: np.ndarray) -> np.ndarray:
    # sorted tag order, the form the program's BAM decoder emits
    out = np.char.add("NH:i:", nh.astype(str))
    out = np.char.add(np.char.add(out, " NM:i:"), nm.astype(str))
    return np.char.add(np.char.add(out, " XQ:i:"), xq.astype(str))


def alignment_sample(
    rng: np.random.Generator,
    name: str,
    n_pairs: int,
    subs: tuple[int, int],
    ld: LdDimension,
    hot_fraction: float = 0.7,
) -> Sample:
    """MT + NT alignments for ``n_pairs`` read pairs.

    MT: two mates per pair (5% single), 100 bp, ``subs`` = inclusive
    (min, max) substitutions per alignment, placed preferentially on LD
    hot positions. The calmd-masked ``seq`` is '=' except at
    substitutions; ``NM`` equals the substitution count. NT: 80% of the
    reads also align to the nuclear genome (two mates), plus 20% NT-only
    reads.
    """
    # ---- MT alignments
    mates = np.where(rng.random(n_pairs) < 0.05, 1, 2)
    read = np.repeat(np.arange(n_pairs), mates)
    n = read.size
    mate2 = np.zeros(n, dtype=bool)
    mate2[1:] = read[1:] == read[:-1]
    first_start = rng.integers(1, MT_LENGTH - 600, n_pairs)
    insert = rng.integers(150, 400, n_pairs)
    start = first_start[read] + np.where(mate2, insert[read], 0)

    k = rng.integers(subs[0], subs[1] + 1, n)
    genome = start[:, None] + np.arange(READ_LENGTH)[None, :]  # 1-based
    hot = ld.hot_base[genome]
    score = rng.random((n, READ_LENGTH)) + (
        (hot > 0) & (rng.random((n, READ_LENGTH)) < hot_fraction)
    )
    rank = np.argsort(np.argsort(-score, axis=1), axis=1)
    is_sub = rank < k[:, None]
    random_base = BASES[rng.integers(0, 4, (n, READ_LENGTH))]
    read_base = np.where(hot > 0, hot, random_base)
    ref_base = BASES[rng.integers(0, 4, (n, READ_LENGTH))]

    seq_codes = np.where(is_sub, read_base, ord("="))
    seq = seq_codes.astype(np.uint8).view(f"S{READ_LENGTH}").ravel().astype(str)

    rows, cols = np.nonzero(is_sub)  # row-major: sorted within a row
    var = _variant_strings(start[rows] + cols, read_base[rows, cols]).tolist()
    ref_chars = ref_base[rows, cols].view("S1").astype(str).tolist()
    md: list[str] = []
    variants: list[list[str]] = [[] for _ in range(n)]
    p = 0
    cols_l, rows_l = cols.tolist(), rows.tolist()
    for a in range(n):
        parts = []
        prev = 0
        while p < len(rows_l) and rows_l[p] == a:
            c = cols_l[p]
            parts.append(f"{c - prev}{ref_chars[p]}")
            variants[a].append(var[p])
            prev = c + 1
            p += 1
        parts.append(str(READ_LENGTH - prev))
        md.append("".join(parts))

    flags = _flags(rng, n)
    names = np.char.add(f"{name}r", np.char.zfill(read.astype(str), 7))
    mt = pa.table(
        {
            "read_name": names,
            "chrom": np.full(n, "chrM"),
            "start": start.astype(np.int64),
            "mapq": rng.integers(0, 61, n).astype(np.int32),
            "attributes": _attributes(rng.integers(1, 4, n), k, rng.integers(0, 101, n)),
            "seq": seq,
            "md": np.array(md),
            **flags,
        },
        schema=ALIGNMENT_ARROW,
    )

    # ---- NT alignments: shared reads (two mates each) + NT-only reads
    shared = np.flatnonzero(rng.random(n_pairs) < 0.8)
    n_only = n_pairs // 5
    nt_read = np.concatenate([np.repeat(shared, 2), np.full(2 * n_only, -1)])
    m = nt_read.size
    only_names = np.char.add(
        f"{name}n", np.char.zfill(np.repeat(np.arange(n_only), 2).astype(str), 7)
    )
    nt_names = np.concatenate(
        [np.char.add(f"{name}r", np.char.zfill(np.repeat(shared, 2).astype(str), 7)), only_names]
    )
    nt_flags = _flags(rng, m)
    nt = pa.table(
        {
            "read_name": nt_names,
            "chrom": np.array(NT_CHROMS)[rng.integers(0, len(NT_CHROMS), m)],
            "start": rng.integers(1, NT_CHROM_LENGTH, m).astype(np.int64),
            "mapq": rng.integers(0, 61, m).astype(np.int32),
            "attributes": _attributes(
                rng.integers(1, 4, m), rng.integers(0, 5, m), rng.integers(0, 101, m)
            ),
            "seq": pa.nulls(m, pa.string()),
            "md": pa.nulls(m, pa.string()),
            **nt_flags,
        },
        schema=ALIGNMENT_ARROW,
    )
    return Sample(
        name=name,
        mt=mt,
        nt=nt,
        mt_read=read,
        mt_valid=_valid(flags),
        mt_variants=variants,
        nt_read=nt_read,
        nt_valid=_valid(nt_flags),
        n_reads=n_pairs,
    )


def _tag(attributes: pa.ChunkedArray, tag: str) -> np.ndarray:
    s = pd.Series(attributes.to_pylist())
    return s.str.extract(rf"{tag}:i:(-?\d+)")[0].astype(np.int64).to_numpy()


def truth_features(
    sample: Sample, ld: LdDimension, numts: pd.DataFrame, reads: np.ndarray
) -> pd.DataFrame:
    """Expected per-read feature table (before MapQ normalisation) for
    the read indices ``reads``, computed from the planted truth alone.

    Reads with no valid MT or no valid NT alignment are absent, as the
    pipeline's inner join drops them. LD sums the scores of all C(n,2)
    pairs of the read's variants (both mates), as the reference does.
    """
    wanted = np.zeros(sample.n_reads, dtype=bool)
    wanted[reads] = True
    mt_sel = sample.mt_valid & wanted[sample.mt_read]
    mt = pd.DataFrame(
        {
            "read": sample.mt_read[mt_sel],
            "MTNumAlignments": _tag(sample.mt["attributes"], "NH")[mt_sel],
            "MTEditDist": _tag(sample.mt["attributes"], "NM")[mt_sel],
        }
    ).groupby("read").sum()
    variants: dict[int, list[str]] = {}
    for a in np.flatnonzero(mt_sel):
        variants.setdefault(int(sample.mt_read[a]), []).extend(sample.mt_variants[a])
    mt["LD"] = [
        sum(
            ld.scores.get((min(v[i], v[j]), max(v[i], v[j])), 0)
            for i in range(len(v))
            for j in range(i + 1, len(v))
        )
        for v in (variants[r] for r in mt.index)
    ]

    nt_sel = sample.nt_valid & (sample.nt_read >= 0)
    nt_sel &= wanted[np.where(sample.nt_read >= 0, sample.nt_read, 0)]
    chrom = np.array(sample.nt["chrom"].to_pylist(), dtype=object)[nt_sel]
    start = sample.nt["start"].to_numpy()[nt_sel]
    # NUMT overlap: [start, start + 100] vs [numt.start, numt.end] on the
    # same chromosome; scores are read back as float32 by the pipeline
    score32 = numts["score"].to_numpy().astype(np.float32).astype(np.float64)
    hit = (
        (chrom[:, None] == numts["chrom"].to_numpy()[None, :])
        & (start[:, None] <= numts["end"].to_numpy()[None, :])
        & (start[:, None] + READ_LENGTH >= numts["start"].to_numpy()[None, :])
    )
    nt = pd.DataFrame(
        {
            "read": sample.nt_read[nt_sel],
            "NTNumAlignments": _tag(sample.nt["attributes"], "NH")[nt_sel],
            "NTEditDist": _tag(sample.nt["attributes"], "NM")[nt_sel],
            "NTScore": _tag(sample.nt["attributes"], "XQ")[nt_sel],
            "NUMTOverlaps": (hit * score32[None, :]).sum(axis=1),
        }
    ).groupby("read").sum()
    out = mt.join(nt, how="inner")
    out.index = [f"{sample.name}r{r:07d}" for r in out.index]
    out.index.name = "Read"
    return out


def training_features(rng: np.random.Generator, n: int = 2_000) -> pd.DataFrame:
    """Labelled feature table (label 0 = MT, 1 = NUMT-like) spanning the
    ranges ``alignment_sample`` produces, for the 128-tree RF."""
    label = rng.integers(0, 2, n).astype(float)
    norm = lambda s: rng.normal(0, s, n)  # noqa: E731
    return pd.DataFrame(
        {
            "Read": np.char.add("t", np.arange(n).astype(str)),
            "MTMapQ": 0.3 * (1 - 2 * label) + norm(1.0),
            "MTNumAlignments": (4 + 2 * label + norm(1.0)).round().clip(1).astype(np.int64),
            "MTEditDist": (6 + 6 * label + norm(3.0)).round().clip(0).astype(np.int64),
            "LD": (60_000 * (1 - label) + norm(60_000)).round().astype(np.int64),
            "NTMapQ": -0.3 * (1 - 2 * label) + norm(1.0),
            "NTNumAlignments": (4 - label + norm(1.0)).round().clip(1).astype(np.int64),
            "NTEditDist": (4 - 2 * label + norm(2.0)).round().clip(0).astype(np.int64),
            "NTScore": (90 + 20 * label + norm(40.0)).round().astype(np.int64),
            "label": label,
        }
    )


def write_tsv(frame: pd.DataFrame, path: str) -> None:
    frame.to_csv(path, sep="\t", header=False, index=False)


# ----------------------------------------------------------- query tables
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = np.array(
    "a the of and to in is it for on batch part spark line column order small"
    " sort fast value scan hash slow group agg filter query big key window row"
    " table stream merge data join vector customer".split()
)


def _day_stamps(rng: np.random.Generator, n: int, first: str, days: int) -> np.ndarray:
    return np.datetime64(first, "us") + rng.integers(0, days, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _text(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lengths = rng.integers(lo, hi, n)
    words = _WORDS[rng.integers(0, _WORDS.size, int(lengths.sum()))].tolist()
    out, p = [], 0
    for k in lengths.tolist():
        out.append(" ".join(words[p : p + k]))
        p += k
    return out


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """Tables for the Q01-Q15 mix at scale ``sf`` (sf 0.1 = 600k
    lineitems), with the column names and types of the catalog corpus."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), 500
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def table(cols: dict, types: dict) -> pa.Table:
        return pa.table({k: pa.array(v, type=types[k]) for k, v in cols.items()})

    region = table(
        {"r_regionkey": np.arange(5), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        {"r_regionkey": i32, "r_name": s},
    )
    nation = table(
        {
            "n_nationkey": np.arange(25),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25) % 5,
        },
        {"n_nationkey": i32, "n_name": s, "n_regionkey": i32},
    )
    customer = table(
        {
            "c_custkey": np.arange(n_cust),
            "c_name": np.char.add("Customer#", np.char.zfill(np.arange(n_cust).astype(str), 9)),
            "c_nationkey": rng.integers(0, 25, n_cust),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        },
        {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64, "c_mktsegment": s},
    )
    supplier = table(
        {
            "s_suppkey": np.arange(n_supp),
            "s_name": np.char.add("Supplier#", np.char.zfill(np.arange(n_supp).astype(str), 9)),
            "s_nationkey": rng.integers(0, 25, n_supp),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64},
    )
    adjectives = np.array(["large", "hot", "small", "blue", "steel", "green", "cheap", "fine"])
    nouns = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"])
    part = table(
        {
            "p_partkey": np.arange(n_part),
            "p_name": np.char.add(
                np.char.add(adjectives[rng.integers(0, 8, n_part)], " "),
                nouns[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
        },
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s, "p_size": i32, "p_retailprice": f64},
    )
    orders = table(
        {
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _day_stamps(rng, n_ord, "1995-01-01", 2400),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        },
        {
            "o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s,
            "o_totalprice": f64, "o_orderdate": ts, "o_orderpriority": s,
        },
    )
    qty = rng.integers(1, 51, n_li).astype(float)
    lineitem = table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _day_stamps(rng, n_li, "1995-01-02", 2500),
        },
        {
            "l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32,
            "l_quantity": f64, "l_extendedprice": f64, "l_discount": f64, "l_tax": f64,
            "l_returnflag": s, "l_linestatus": s, "l_shipdate": ts,
        },
    )
    month_us = 30 * 86_400 * 1_000_000
    events = table(
        {
            "event_id": np.arange(n_ev),
            "ts": np.datetime64("2024-01-01", "us")
            + np.sort(rng.integers(0, month_us, n_ev)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(n_ev // 66, 1), n_ev),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": _money(rng, 0.0, 560.0, n_ev),
            "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"),
        },
        {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s, "value": f64, "props": s},
    )
    texts = _text(rng, n_doc, 8, 90)
    documents = table(
        {
            "doc_id": np.arange(n_doc),
            "text": texts,
            "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_doc)],
            "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
            "n_chars": np.array([len(t) for t in texts]),
        },
        {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64},
    )
    emb = rng.normal(0, 0.15, (n_emb, 64)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), type=i64),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), type=i32),
        }
    )
    return {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orders, "lineitem": lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }
