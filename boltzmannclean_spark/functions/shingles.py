"""Shingle-set kernels of the dedup family, each in its Spark form and
its DuckDB form.

The oracles replay the Spark plans step for step, so every decision
lives here twice, side by side: the Spark builder and the CTE text the
oracle strings are composed from.

- MinHash signature. Seed ``s`` of a token set is the lexicographic MIN
  over its tokens of the 8-hex slice ``s % 4`` of ``md5("{s // 4}|" ||
  token)``: one md5 gives four independent 32-bit hashes, md5 is
  standardized and string min is a total order, so both engines produce
  the same signature bit for bit.
- LSH bands. Band ``b`` is the concatenation of minhashes ``b * rows``
  to ``b * rows + rows - 1``; candidates are docs sharing a
  ``(band, band_key)`` bucket.
- Exact verify. Token-set Jaccard ``|A ∩ B| / |A ∪ B|`` over
  ``array_distinct(split(text, ' '))``, in doubles.
- Capped bigram overlap. Per-language distinct word bigrams, minus the
  bigrams in more than ``df_cap`` docs, self-joined on the bigram: the
  pair set with per-pair intersection counts and per-doc set sizes.
- Trigram prefixes. Distinct word trigrams per doc; after the df cap a
  doc's prefix is its ``n - ceil(θ·n) + 1`` rarest trigrams (df, then
  text), with θ = num/den and the ceil as ``(num·n + num) div den``.

Candidate generation then exact verification is the shape of
distributed similarity joins: cost tracks the pairs that share a
bucket or a shingle, never the doc x doc cross product.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def minhash_signature(
    toks: DataFrame, keys: Sequence[str], n_hashes: int
) -> DataFrame:
    """``toks(keys…, sh)`` exploded shingles → one row per ``keys``
    with ``mh0..mh{n_hashes-1}``, all in ONE aggregation from
    ``n_hashes / 4`` md5 evaluations per shingle."""
    if n_hashes < 1:
        raise ValueError("n_hashes must be at least 1")
    return toks.groupBy(*keys).agg(
        *[
            F.min(
                F.substring(
                    F.md5(F.concat(F.lit(f"{s // 4}|"), F.col("sh"))),
                    1 + 8 * (s % 4),
                    8,
                )
            ).alias(f"mh{s}")
            for s in range(n_hashes)
        ]
    )


def lsh_bands(
    minh: DataFrame, keys: Sequence[str], n_hashes: int, band_rows: int
) -> DataFrame:
    """Signature rows → ``(keys…, band, band_key)``, one row per band:
    ``n_hashes / band_rows`` bands of ``band_rows`` minhashes each."""
    if band_rows < 1 or n_hashes % band_rows:
        raise ValueError("band_rows must be at least 1 and divide n_hashes")
    band_cols = [
        F.concat(*[F.col(f"mh{b * band_rows + r}") for r in range(band_rows)])
        for b in range(n_hashes // band_rows)
    ]
    return minh.select(
        *keys, F.posexplode(F.array(*band_cols)).alias("band", "band_key")
    )


def jaccard_verify(
    pairs: DataFrame, vocab: DataFrame, doc: str, rep: str, id_col: str
) -> DataFrame:
    """Candidate ``pairs(doc, rep)`` joined to ``vocab(doc_id, toks)``
    on both sides → ``(id_col, dup_of, jaccard)`` with the exact
    token-set Jaccard of each pair."""
    p, va, vb = pairs.alias("p"), vocab.alias("va"), vocab.alias("vb")
    n_int = F.size(F.array_intersect(F.col("va.toks"), F.col("vb.toks")))
    n_sum = F.size(F.col("va.toks")) + F.size(F.col("vb.toks"))
    jac = (n_int.cast("double") / (n_sum - n_int).cast("double")).alias(
        "jaccard"
    )
    return (
        p.join(va, F.col("va.doc_id") == F.col(f"p.{doc}"))
        .join(vb, F.col("vb.doc_id") == F.col(f"p.{rep}"))
        .select(
            F.col(f"p.{doc}").alias(id_col),
            F.col(f"p.{rep}").alias("dup_of"),
            jac,
        )
    )


def capped_bigram_overlap(
    docs: DataFrame, df_cap: int
) -> tuple[DataFrame, DataFrame]:
    """``documents(doc_id, lang, text)`` → ``(sizes, inter)``:
    ``sizes(doc_id, n_sh)`` counts each doc's kept bigrams and
    ``inter(doc_a, doc_b, n_int)`` their shared ones, doc_a < doc_b,
    same language. A bigram in more than ``df_cap`` docs of its
    language is dropped on both sides before the pair join (it alone
    would add df² candidate pairs), so ratios of these counts stay
    internally consistent."""
    toks = docs.select(
        "doc_id", "lang", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    all_grams = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .where(F.col("nxt").isNotNull())
        .select(
            "doc_id",
            "lang",
            F.concat_ws(" ", F.col("tok"), F.col("nxt")).alias("sh"),
        )
        .distinct()
    )
    rare = (
        all_grams.groupBy("lang", "sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= df_cap)
        .select("lang", "sh")
    )
    grams = all_grams.join(rare, ["lang", "sh"])
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    ga, gb = grams.alias("ga"), grams.alias("gb")
    inter = (
        ga.join(
            gb,
            (F.col("ga.sh") == F.col("gb.sh"))
            & (F.col("ga.lang") == F.col("gb.lang"))
            & (F.col("ga.doc_id") < F.col("gb.doc_id")),
        )
        .groupBy(F.col("ga.doc_id").alias("doc_a"), F.col("gb.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_int"))
    )
    return sizes, inter


def trigram_shingles(docs: DataFrame) -> DataFrame:
    """``documents(doc_id, text)`` → distinct ``(doc_id, sh)`` word
    trigrams. Shingling is ROW-LOCAL: a higher-order transform over the
    token array builds every trigram in place — no posexplode + per-doc
    window (which would shuffle the corpus on doc_id before any
    pruning). distinct() is the first exchange the corpus sees."""
    return (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 3),"
                    " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
                )
            ).alias("sh"),
        )
        .distinct()
    )


def in_prefix(num: int, den: int) -> Column:
    """Over ``(pos, n)`` rows (``pos`` the 1-based rarity rank in a set
    of ``n``): the rank is inside the prefix for Jaccard >= num/den."""
    return (
        F.col("pos")
        <= F.col("n") - F.expr(f"({num} * n + {num}) div {den}") + 1
    )


# DuckDB twins: CTE text over a ``vocab(doc_id, …, toks)`` CTE (MinHash)
# or the ``documents`` table (bigrams, trigrams). A fragment ends in
# ``),`` and a newline, so fragments concatenate, except the two that
# close a CTE list (``near_dup_ids_sql``, ``capped_bigram_sql``).


def signature_sql(n_hashes: int, keys: str = "doc_id") -> str:
    """``toks``, ``seeds`` and ``minh``: one row per (keys, seed) with
    that seed's minhash ``mh``."""
    return f"""toks AS (SELECT {keys}, UNNEST(toks) AS sh FROM vocab),
seeds AS (SELECT UNNEST(range(0, {n_hashes})) AS seed),
minh AS (
  SELECT {keys}, seed,
         MIN(substring(md5((seed // 4)::VARCHAR || '|' || sh),
                       1 + 8 * (seed % 4), 8)) AS mh
  FROM toks CROSS JOIN seeds
  GROUP BY {keys}, seed
),
"""


def bands_sql(band_rows: int, keys: str = "doc_id") -> str:
    """``bands``: one row per (keys, band) with its ``band_key``."""
    return f"""bands AS (
  SELECT {keys}, seed // {band_rows} AS band,
         STRING_AGG(mh, '' ORDER BY seed) AS band_key
  FROM minh GROUP BY {keys}, seed // {band_rows}
),
"""


def signature_columns_sql(n_hashes: int) -> str:
    """The signature as ``mh0..mh{n-1}`` select-list columns of one
    GROUP BY over ``toks(doc_id, sh)`` (the Spark builder's layout)."""
    return ", ".join(
        f"MIN(substring(md5('{s // 4}|' || sh), {1 + 8 * (s % 4)}, 8))"
        f" AS mh{s}"
        for s in range(n_hashes)
    )


def bands_union_sql(n_hashes: int, band_rows: int) -> str:
    """Bands of a column-layout ``minh`` as a UNION ALL of per-band
    selects."""
    return " UNION ALL ".join(
        "SELECT doc_id, " + str(b) + " AS band, "
        + " || ".join(f"mh{b * band_rows + r}" for r in range(band_rows))
        + " AS band_key FROM minh"
        for b in range(n_hashes // band_rows)
    )


EDGES_SQL = """edges AS (
  SELECT DISTINCT b.doc_id,
         MIN(b.doc_id) OVER (PARTITION BY b.band, b.band_key) AS rep
  FROM bands b
),
"""


def jaccard_sql(indent: int) -> str:
    """Token-set Jaccard of ``va.toks`` and ``vb.toks``; continuation
    lines sit ``indent`` spaces in."""
    pad = " " * indent
    return (
        "CAST(LEN(list_intersect(va.toks, vb.toks)) AS DOUBLE)\n"
        f"{pad}  / CAST(LEN(va.toks) + LEN(vb.toks)\n"
        f"{pad}         - LEN(list_intersect(va.toks, vb.toks)) AS DOUBLE)"
    )


def near_dup_ids_sql(name: str, threshold: float) -> str:
    """CTE ``name``: the doc_ids whose bucket representative (from
    ``edges``) verifies at Jaccard >= ``threshold``."""
    return f"""{name} AS (
  SELECT DISTINCT e.doc_id
  FROM edges e
  JOIN vocab va ON va.doc_id = e.doc_id
  JOIN vocab vb ON vb.doc_id = e.rep
  WHERE e.doc_id > e.rep
    AND {jaccard_sql(8)}
        >= {threshold}
)"""


def capped_bigram_sql(df_cap: int) -> str:
    """``toks``, ``grams``, ``df``, ``kept``, ``sizes`` and ``inter``:
    the oracle form of ``capped_bigram_overlap``."""
    return f"""toks AS (
  SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, lang,
         tok || ' ' || LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS sh
  FROM toks
  QUALIFY LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
),
df AS (SELECT lang, sh FROM grams GROUP BY lang, sh HAVING COUNT(*) <= {df_cap}),
kept AS (SELECT g.* FROM grams g JOIN df USING (lang, sh)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id),
inter AS (
  SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b, COUNT(*) AS n_int
  FROM kept ga
  JOIN kept gb ON ga.sh = gb.sh AND ga.lang = gb.lang AND ga.doc_id < gb.doc_id
  GROUP BY ga.doc_id, gb.doc_id
)"""


def trigram_sql(materialized: bool) -> str:
    """``toks`` and ``grams0``: the oracle form of
    ``trigram_shingles``."""
    hint = " MATERIALIZED" if materialized else ""
    return f"""toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
grams0 AS{hint} (
  SELECT DISTINCT doc_id,
         tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS sh
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY LEAD(tok, 2) OVER w IS NOT NULL
),
"""


def prefix_sql(df_cap: int, num: int, den: int, cols: str) -> str:
    """``grams`` (the df-capped ``grams0`` joined to ``df(sh, df)``),
    ``sizes``, ``ranked`` and ``prefix(cols)``: the oracle form of the
    df cap and ``in_prefix``."""
    return f"""grams AS MATERIALIZED (
  SELECT g.doc_id, g.sh, df.df
  FROM grams0 g JOIN df ON g.sh = df.sh
  WHERE df.df <= {df_cap}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
ranked AS (
  SELECT g.doc_id, g.sh,
         ROW_NUMBER() OVER (PARTITION BY g.doc_id
                            ORDER BY g.df, g.sh) AS pos,
         s.n
  FROM grams g JOIN sizes s ON s.doc_id = g.doc_id
),
prefix AS MATERIALIZED (
  SELECT {cols} FROM ranked
  WHERE pos <= n - (({num} * n + {num}) // {den}) + 1
),
"""
