"""Deterministic robustness fixtures: empty, unicode, skew, degenerate, one-row, all-null.

Round 8 swept degenerate VALUES (NULLs, zero-norm vectors, malformed
wire data); rounds 9/11/14 added four more axes every 100 TB pipeline
hits (r14's ``--degenerate`` is partial degeneracy — empty SUBGROUPS on
populated tables, see :func:`build_degenerate` — and r14's ``--onerow``
is the N=1 boundary, see :func:`build_onerow` — both swept
full-registry, 193/193 each at introduction; r14's ``--allnull`` is
whole-column NULLs, see :func:`build_allnull` — the axis that FOUND
five real divergences at introduction, 193/193 after the fixes):

- **empty relations** (``--empty``): schema-identical zero-row copies
  of all ten tables. A filter matching nothing is guaranteed at scale;
  N=0 breaks count-derived literals and grouping-set semantics (the
  sweep found five real divergence classes — see README round 9).
- **unicode text** (``--unicode``): the sf0.001 corpus with a
  deterministic multilingual hazard phrase appended to every document
  (Turkish dotted I, sharp s, Greek final sigma, CJK, ZWJ emoji,
  combining marks, RTL, ligatures, astral-plane letters). This is the
  fixture that exposed engine ``lower()`` divergence (Java full
  Unicode casing vs DuckDB simple mapping) and drove the ASCII-fold
  tokenizer contract (functions/text.py::ASCII_UPPER).

Usage:
    python tools/robustness_fixtures.py --empty   [--out /tmp/sf_empty]
    python tools/robustness_fixtures.py --unicode [--out /tmp/sf_unicode]
then:
    python tools/selfcheck.py --sf-dir /tmp/sf_empty
    python tools/selfcheck.py --sf-dir /tmp/sf_unicode <text/dedup names>

- **skewed corpus** (``--skew``): the sf0.001 corpus with planted
  mass skew — 1/3 exact-duplicate boilerplate docs (one hash group,
  one near-dup clique, one LSH bucket chain), 1/3 docs carrying one
  hot span (33% span DF), half the corpus on one source, and 1/3 of
  all embeddings set to one hot unit vector (a cosine==1 tie mass in
  one LSH/IVF bucket). Mass ties are where nondeterministic
  tie-breaking, df-cap boundaries, and hot-bucket handling diverge
  first; the r11 sweep (``--list-skew-family``, the registry-derived
  documents/embeddings-dependent families — 92 names at r11) is all
  green — the deterministic tie-break contracts hold under mass ties.

Unicode-sweep family (``--list-unicode-family`` prints it): every
registered query whose VALUES depend on the documents.text column
(prefixes d_/t_/pipeline_) plus p_string_funcs (the §2.7 engine-casing
demo with its documented ASCII-domain pin) — registry-derived (61
names at r11). The edit-distance
contract appears twice in the family: ``d_editdist_neardup`` (production
form — Spark ``levenshtein`` counts CODEPOINTS, the right contract for
multilingual near-dup verification, while DuckDB's counts UTF-8 BYTES,
so its raw-text twin verifies the ASCII regime by engine-primitive
necessity and diverges on this fixture BY DESIGN) and
``d_editdist_unicode`` (r11 — the codepoint-exact oracle row: identical
candidate pipeline, cross-engine-identical ASCII projection, Spark-side
injective multibyte substitution; green on this fixture iff Spark's
levenshtein is codepoint-based). Sweep accounting: every verifiable
contract green — the raw-text editdist twin is the one documented
engine-primitive exclusion, and the contract it cannot check is checked
exactly by the variant. Codepoint semantics also pinned by pytest
(tests/test_llm_ext.py::test_levenshtein_is_codepoint_based,
::test_editdist_unicode_bijection_preserves_distance).
"""

from __future__ import annotations

import argparse
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

#: the checkout this file lives in (its registry is the one swept)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: per-doc hazard phrases, cycled deterministically by doc index —
#: each targets a known cross-engine unicode hazard class
UNICODE_PHRASES = [
    "İstanbul DİYARBAKIR ışık",            # Turkish dotted/dotless I
    "STRASSE straße ẞß",                    # sharp s casing
    "ΣΊΣΥΦΟΣ σίσυφος τέλος",                # Greek final sigma
    "日本語のテキスト 中文文本 한국어",       # CJK no-space scripts
    "emoji 🎉🚀 family 👨‍👩‍👧‍👦 flag 🇫🇷",  # ZWJ sequences, flags
    "café naïve résumé",                    # precomposed + combining
    "مرحبا بالعالم עברית",                   # RTL Arabic + Hebrew
    "nbsp joined thin space",     # non-class whitespace
    "ligature ﬁne ǅungla Ǆ",                # ligatures, titlecase digraph
    "math 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 supplementary 😀𐍈",      # astral plane
]


def build_empty(base: str, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        schema = pq.read_schema(f"{base}/{t}.parquet")
        pq.write_table(schema.empty_table(), f"{out}/{t}.parquet")
    print(f"empty fixture at {out} ({len(TABLES)} zero-row tables)")


#: the skew fixture's planted boilerplate (an exact-duplicate mass —
#: every third doc becomes THIS text, so one text hash, one shingle
#: set, one LSH bucket chain carries a third of the corpus)
SKEW_BOILERPLATE = (
    "subscribe to our newsletter terms of service apply "
    "all rights reserved click here to unsubscribe "
) * 4

#: hot span appended to another third (span/substring dedup hot-key
#: path: one span string at ~33% document frequency)
SKEW_HOT_SPAN = "standard disclaimer: this document is provided as is."


def build_skew(base: str, out: str) -> None:
    """Adversarially skewed corpus — the third robustness axis (r11;
    r8 swept degenerate values, r9 empty relations + unicode). At
    100 TB, skew is a certainty: boilerplate makes exact-duplicate
    masses, templated pages make hot spans, crawler runs make one
    dominant source, and near-identical embeddings pile into one LSH
    bucket. This fixture plants all four into sf0.001 and the sweep
    value-checks every text/dedup/similarity/selection query against
    DuckDB under MASS TIES — the regime where nondeterministic
    tie-breaking, df-cap boundaries, and hot-bucket salting diverge
    first:

    - documents: every 3rd doc's text := one fixed boilerplate (an
      exact-dup mass ~167 docs: one hash group, one near-dup clique);
      every 3rd+1 doc gets a fixed hot span appended (33% span DF);
      half of ALL docs collapse onto source 'src0' (dominant-source
      mixtures/stratification).
    - embeddings: every 3rd vector := one fixed unit vector (a
      ~167-vector hot LSH/IVF bucket and a cosine==1 tie mass).
    """
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        if t in ("documents", "embeddings"):
            continue
        shutil.copyfile(f"{base}/{t}.parquet", f"{out}/{t}.parquet")
    tbl = pq.read_table(f"{base}/documents.parquet")
    d = tbl.to_pydict()
    for i in range(len(d["text"])):
        if i % 3 == 0:
            d["text"][i] = SKEW_BOILERPLATE
        elif i % 3 == 1:
            d["text"][i] = (d["text"][i] or "") + " " + SKEW_HOT_SPAN
        if i % 2 == 0:
            d["source"][i] = "src0"
        d["n_chars"][i] = len(d["text"][i] or "")
    pq.write_table(pa.table(d, schema=tbl.schema), f"{out}/documents.parquet")
    emb = pq.read_table(f"{base}/embeddings.parquet")
    e = emb.to_pydict()
    dim = len(e["embedding"][0])
    hot = [0.0] * dim
    hot[0] = 0.6
    hot[1] = 0.8
    for i in range(len(e["embedding"])):
        if i % 3 == 0:
            e["embedding"][i] = list(hot)
    pq.write_table(pa.table(e, schema=emb.schema), f"{out}/embeddings.parquet")
    print(
        f"skew fixture at {out} ({len(d['text'])} docs: 1/3 exact-dup "
        f"mass, 1/3 hot-span, 1/2 one source; {len(e['embedding'])} "
        "vectors: 1/3 one hot vector)"
    )


def build_degenerate(base: str, out: str) -> None:
    """Partial-degeneracy fixture — the FOURTH robustness axis (r14).
    The empty sweep proves N=0 TABLES; real pipelines more often hit
    empty SUBGROUPS on otherwise-normal data: a filter predicate that
    matches nothing this batch, a dimension class with no members, a
    target domain absent from the corpus. ADVICE r13's theta finding
    (set B empty while A is not) is exactly this class — guards that
    only cover the all-empty case. Every transform below empties one
    set that some registered query filters on, while keeping every
    table populated:

    - orders: NO 'F' status ('F'→'O': q21's finished-order universe is
      empty) and NO '1-URGENT' priority ('1-URGENT'→'3-MEDIUM': the
      points CASE ladder's top branch, p_unpivot's n_urgent column,
      p_array_funcs' has_urgent all go all-zero/false).
    - lineitem: NO 'R' returnflag ('R'→'N': every return-based
      EXISTS/aggregate set — q10 revenue, q21's R-supplier sets,
      a_corr_regr's R group — is empty).
    - customer: every acctbal strictly negative (tpch_q22's
      positive-balance AVG scalar subquery aggregates over ZERO rows →
      NULL, and NULL-comparison semantics must agree cross-engine).
    - documents: ONE source (chi2's expected == observed for every
      cell → the statistic is exactly 0 and the fixed-point rounding
      of 0 must agree; mixture/stratification queries collapse to a
      single stratum) and NO 'en' lang (DSIR's target domain is empty
      → every count coalesces to 0).
    - part: NO 'small%' and NO '%widget%' names (tpch_q20's inner
      grouped-HAVING feed and tpch_q9's FIRST selective broadcast
      filter — the join-order rewrite's anchor — are empty).
    """
    os.makedirs(out, exist_ok=True)
    untouched = [
        t
        for t in TABLES
        if t not in ("orders", "lineitem", "customer", "documents", "part")
    ]
    for t in untouched:
        shutil.copyfile(f"{base}/{t}.parquet", f"{out}/{t}.parquet")

    tbl = pq.read_table(f"{base}/orders.parquet")
    d = tbl.to_pydict()
    d["o_orderstatus"] = ["O" if s == "F" else s for s in d["o_orderstatus"]]
    d["o_orderpriority"] = [
        "3-MEDIUM" if p == "1-URGENT" else p for p in d["o_orderpriority"]
    ]
    pq.write_table(pa.table(d, schema=tbl.schema), f"{out}/orders.parquet")

    tbl = pq.read_table(f"{base}/lineitem.parquet")
    d = tbl.to_pydict()
    d["l_returnflag"] = ["N" if f == "R" else f for f in d["l_returnflag"]]
    pq.write_table(pa.table(d, schema=tbl.schema), f"{out}/lineitem.parquet")

    tbl = pq.read_table(f"{base}/customer.parquet")
    d = tbl.to_pydict()
    d["c_acctbal"] = [
        None if b is None else round(-abs(b) - 1.0, 2) for b in d["c_acctbal"]
    ]
    pq.write_table(pa.table(d, schema=tbl.schema), f"{out}/customer.parquet")

    tbl = pq.read_table(f"{base}/documents.parquet")
    d = tbl.to_pydict()
    d["source"] = ["src_only"] * len(d["source"])
    d["lang"] = ["xx" if lg == "en" else lg for lg in d["lang"]]
    pq.write_table(pa.table(d, schema=tbl.schema), f"{out}/documents.parquet")

    tbl = pq.read_table(f"{base}/part.parquet")
    d = tbl.to_pydict()
    d["p_name"] = [
        (n or "").replace("small", "plain").replace("widget", "gadget")
        for n in d["p_name"]
    ]
    pq.write_table(pa.table(d, schema=tbl.schema), f"{out}/part.parquet")
    print(f"degenerate-subgroup fixture at {out} (5 tables transformed)")


def build_allnull(base: str, out: str) -> None:
    """All-NULL-column fixture — the SIXTH robustness axis (r14), and
    the one that FOUND BUGS at introduction: rows exist but an entire
    optional column is NULL (a failed upstream join, a dead encoder, a
    schema migration backfilling late). Perturbs: documents.text/lang/
    n_chars → NULL, events.props → NULL, embeddings.embedding → NULL.
    The introduction sweep caught five real cross-engine divergences —
    knn_lsh/knn_join_adc folded NULL vectors into LSH bucket 0 (the
    sign CASE's otherwise-branch) and surfaced them as NULL-cosine
    neighbors while the SQL twins' nrm-filtered verify dropped them
    (fixed: operator-entry classify-drop in BOTH engines), and
    t_repetition's slice/transform chain propagated NULL where the
    twin's greatest(NULL,0) collapsed to empty (fixed: coalesce to the
    empty array). 193/193 after the fixes."""
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        if t in ("documents", "events", "embeddings"):
            continue
        shutil.copyfile(f"{base}/{t}.parquet", f"{out}/{t}.parquet")
    tbl = pq.read_table(f"{base}/events.parquet")
    d = tbl.to_pydict()
    d["props"] = [None] * len(d["props"])
    pq.write_table(pa.table(d, schema=tbl.schema), f"{out}/events.parquet")
    tbl = pq.read_table(f"{base}/documents.parquet")
    d = tbl.to_pydict()
    n = len(d["text"])
    d["text"] = [None] * n
    d["lang"] = [None] * n
    d["n_chars"] = [None] * n
    pq.write_table(pa.table(d, schema=tbl.schema), f"{out}/documents.parquet")
    tbl = pq.read_table(f"{base}/embeddings.parquet")
    d = tbl.to_pydict()
    d["embedding"] = [None] * len(d["embedding"])
    pq.write_table(pa.table(d, schema=tbl.schema), f"{out}/embeddings.parquet")
    print(f"all-null-column fixture at {out} (3 tables nulled)")


def build_onerow(base: str, out: str) -> None:
    """One-row-per-table fixture — the n=1 boundary (r14). The empty
    sweep proves N=0; this proves N=1, where a different hazard class
    lives: zero-variance statistics (corr/regr moments divide by 0 —
    both engines must agree on the NULL), single-point percentiles,
    1-row windows/ranks, a 1-vector corpus for every kNN/cell
    derivation (ceil(sqrt(1)) cells, log2 plane floors), and 1-token
    count tables. Swept full-registry: 193/193 at introduction, with
    a_corr_regr emitting (NULL, NULL, NULL) identically in both
    engines."""
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        tbl = pq.read_table(f"{base}/{t}.parquet")
        pq.write_table(tbl.slice(0, 1), f"{out}/{t}.parquet")
    print(f"one-row fixture at {out} ({len(TABLES)} single-row tables)")


def build_unicode(base: str, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        if t == "documents":
            continue
        shutil.copyfile(f"{base}/{t}.parquet", f"{out}/{t}.parquet")
    tbl = pq.read_table(f"{base}/documents.parquet")
    d = tbl.to_pydict()
    d["text"] = [
        (txt or "") + " " + UNICODE_PHRASES[i % len(UNICODE_PHRASES)]
        for i, txt in enumerate(d["text"])
    ]
    pq.write_table(pa.table(d, schema=tbl.schema), f"{out}/documents.parquet")
    print(f"unicode fixture at {out} ({len(d['text'])} docs)")


def unicode_family() -> list[str]:
    """The unicode-sweep query set: every registered query whose values
    depend on documents.text (prefixes d_/t_/pipeline_) plus
    p_string_funcs (see module docstring). Derived from the live
    registry so the list cannot silently go stale."""
    import sys

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod

    names = [
        n
        for n in entrymod.queries()
        if n.startswith(("d_", "t_", "pipeline_"))
    ]
    return names + ["p_string_funcs"]


def skew_family() -> list[str]:
    """The skew-sweep query set: every registered query whose values
    depend on documents or embeddings — the tables the skew fixture
    perturbs (prefixes d_/t_/e_/m_/pipeline_; m_ reads documents'
    doc_id domain for its payload staging)."""
    import sys

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod

    return [
        n
        for n in entrymod.queries()
        if n.startswith(("d_", "t_", "e_", "m_", "pipeline_"))
    ]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.001")
    ap.add_argument("--empty", action="store_true")
    ap.add_argument("--unicode", action="store_true")
    ap.add_argument("--skew", action="store_true")
    ap.add_argument("--degenerate", action="store_true")
    ap.add_argument("--onerow", action="store_true")
    ap.add_argument("--allnull", action="store_true")
    ap.add_argument("--list-unicode-family", action="store_true")
    ap.add_argument("--list-skew-family", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args()
    if args.list_unicode_family:
        print(" ".join(unicode_family()))
        return 0
    if args.list_skew_family:
        print(" ".join(skew_family()))
        return 0
    if args.empty:
        build_empty(args.base, args.out or "/tmp/sf_empty")
    if args.unicode:
        build_unicode(args.base, args.out or "/tmp/sf_unicode")
    if args.skew:
        build_skew(args.base, args.out or "/tmp/sf_skew")
    if args.degenerate:
        build_degenerate(args.base, args.out or "/tmp/sf_degen")
    if args.onerow:
        build_onerow(args.base, args.out or "/tmp/sf_onerow")
    if args.allnull:
        build_allnull(args.base, args.out or "/tmp/sf_allnull")
    if not (
        args.empty
        or args.unicode
        or args.skew
        or args.degenerate
        or args.onerow
        or args.allnull
    ):
        ap.error(
            "pass --empty, --unicode, --skew, --degenerate, --onerow "
            "and/or --allnull"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
