"""Text-analysis operators over document tables — all JVM-side expressions.

Extension surface mandated by the north star (BASELINE.json): language-ID,
quality scoring, token statistics, document fingerprinting.  The reference
has no text operators (SURVEY §2.6); these are designed Spark-first:

- every function returns Column expressions built from higher-order array
  functions (whole-stage codegen, no Python boundary);
- the scale path is scan -> narrow projection -> (optional) explode+agg:
  no shuffles except where an aggregation genuinely needs one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prod_data_pipeline_spark.functions.text import shingles, tokens
from prod_data_pipeline_spark.session import ensure_parallelism

# Tiny per-language stopword sets for the n-gram/stopword-hit heuristic.
# Deliberately small so the DuckDB oracle can mirror the exact expression.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "is", "in"],
    "es": ["el", "la", "de", "que", "y", "los", "un"],
    "fr": ["le", "la", "de", "et", "un", "les", "des"],
    "de": ["der", "die", "und", "das", "ist", "von", "ein"],
}
LANG_PRIORITY = ["en", "es", "fr", "de"]  # tie-break order, most common first


def lang_hits(toks_distinct: Column, lang: str) -> Column:
    return F.size(F.array_intersect(toks_distinct, F.array(*[F.lit(w) for w in STOPWORDS[lang]])))


def predicted_lang(toks_distinct: Column) -> Column:
    """Argmax of stopword hits with fixed priority tie-break; 'und' if no
    language scores a single hit."""
    hits = {lang: lang_hits(toks_distinct, lang) for lang in LANG_PRIORITY}
    expr = F.lit("und")
    # Build the CASE chain back-to-front so earlier languages win ties.
    for lang in reversed(LANG_PRIORITY):
        later = LANG_PRIORITY[LANG_PRIORITY.index(lang) + 1 :]
        cond = (hits[lang] > 0) & F.lit(True)
        for other in later:
            cond = cond & (hits[lang] >= hits[other])
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def quality_score(toks: Column, toks_distinct: Column) -> Column:
    """Composite [0,1] quality score: length saturation + lexical diversity.

    score = 0.5*min(n_tokens/100, 1) + 0.5*(distinct/total); rounded to 4
    decimals so cross-engine double arithmetic hashes identically.
    """
    n = F.size(toks).cast("double")
    d = F.size(toks_distinct).cast("double")
    return F.round(
        F.lit(0.5) * F.least(n / F.lit(100.0), F.lit(1.0)) + F.lit(0.5) * (d / n),
        4,
    )


def token_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token counts and quality features."""
    toks = tokens(F.col(text_col))
    dtoks = F.array_distinct(toks)
    return df.withColumn("toks", toks).withColumn("dtoks", dtoks)


# --------------------------------------------------------------------------
# Boilerplate / markup removal (jusText-style, Kohlschütter/Pomikálek family)
# — the standard web-crawl curation gate that runs BEFORE dedup and LM
# scoring: strip HTML, segment into blocks, classify each block by link
# density / stopword density / length with ALL-INTEGER decisions, keep the
# content blocks.  The reference has no text operators at all (SURVEY §2.6).
# --------------------------------------------------------------------------

#: Combined stopword list for the density rule (union of the per-language
#: sets above — a fixed literal both engines embed).
BOILER_STOPLIST: tuple[str, ...] = tuple(
    sorted({w for ws in STOPWORDS.values() for w in ws})
)
#: Content paragraphs are cut every PARA_TOKENS tokens by the synthetic
#: page builder; the classifier itself never sees this constant.
PARA_TOKENS = 25
#: A good block needs >= MIN_BLOCK_TOKENS tokens ...
MIN_BLOCK_TOKENS = 10
#: ... link density <= 0.2 (10*links <= 2*tokens) ...
LINK_NUM, LINK_DEN = 10, 2
#: ... and stopword density >= 4% (100*stops >= 4*tokens).
STOP_NUM, STOP_DEN = 100, 4


def synthetic_markup_pages(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Wrap each document in a deterministic HTML page: a nav bar of
    ``doc_id % 3 + 2`` links, the document text cut into ``<p>`` blocks of
    PARA_TOKENS tokens, and a fixed footer — the same fabricate-then-
    really-parse recipe the multimodal stack uses
    (operators.multimodal.synthetic_media_assets), so the extractor can be
    exercised and hash-verified on a corpus that ships no markup.  Pure
    codegen string construction; adds an ``html`` column."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_links = (F.col(id_col) % 3 + 2).cast("int")
    nav = F.concat(
        F.lit("<nav>"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), n_links),
                lambda i: F.concat(
                    F.lit('<a href="/p'),
                    i.cast("string"),
                    F.lit('">link'),
                    i.cast("string"),
                    F.lit("</a>"),
                ),
            ),
            " ",
        ),
        F.lit("</nav>"),
    )
    paras = F.when(n == 0, F.lit("")).otherwise(
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), ((n - 1) / PARA_TOKENS).cast("int")),
                lambda i: F.concat(
                    F.lit("<p>"),
                    F.array_join(F.slice(toks, i * PARA_TOKENS + 1, PARA_TOKENS), " "),
                    F.lit("</p>"),
                ),
            ),
            "",
        )
    )
    footer = F.lit("<footer>copyright 2025 example corp all rights reserved</footer>")
    return df.withColumn(
        "html", F.concat(F.lit("<html><body>"), nav, paras, footer, F.lit("</body></html>"))
    )


def markup_blocks(
    df: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """REAL block-level boilerplate classification over an ``html`` column
    (jusText's core loop, minus the context-smoothing pass, with every
    decision an integer cross-multiplication so engines can replay it):

    1. segment the page into blocks at ``<nav>/<p>/<footer>`` boundaries
       (non-greedy tag-pair regex — genuine parsing, not position math);
    2. per block, count link tokens (text inside ``<a>`` anchors), strip
       all tags, tokenize, count stopword OCCURRENCES;
    3. a block is content iff it has >= MIN_BLOCK_TOKENS tokens, link
       density <= 0.2 and stopword density >= 4% — nav bars fail the link
       rule, footers/short fragments the length rule, link-farm word soup
       the stopword rule.

    Returns one row per block: (id, *carry_cols, block_pos, block_type,
    n_tokens, n_link_tokens, n_stop_tokens, is_good, clean_text) —
    ``carry_cols`` ride along so callers can aggregate straight to their
    grouping key without re-joining the page table.  One scan, block
    relation ~ pages x blocks-per-page; the groupBy in callers is the
    only shuffle."""
    pat = r"<(nav|p|footer)>(.*?)</\1>"
    types = F.regexp_extract_all(F.col(html_col), F.lit(pat), 1)
    bodies = F.regexp_extract_all(F.col(html_col), F.lit(pat), 2)
    e = df.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.posexplode(F.arrays_zip(types.alias("t"), bodies.alias("b"))).alias(
            "block_pos", "z"
        ),
    ).select(
        id_col,
        *carry_cols,
        "block_pos",
        F.col("z.t").alias("block_type"),
        F.col("z.b").alias("body"),
    )
    link_text = F.array_join(
        F.regexp_extract_all(F.col("body"), F.lit(r"<a[^>]*>([^<]*)</a>"), 1), " "
    )
    clean = F.trim(F.regexp_replace(F.col("body"), r"<[^>]*>", " "))
    btoks = tokens(clean)
    stoplist = F.array(*[F.lit(w) for w in BOILER_STOPLIST])
    n_tok = F.size(btoks)
    n_link = F.size(tokens(link_text))
    n_stop = F.size(F.filter(btoks, lambda t: F.array_contains(stoplist, t)))
    return e.select(
        id_col,
        *carry_cols,
        "block_pos",
        "block_type",
        n_tok.alias("n_tokens"),
        n_link.alias("n_link_tokens"),
        n_stop.alias("n_stop_tokens"),
        (
            (n_tok >= F.lit(MIN_BLOCK_TOKENS))
            & (F.lit(LINK_NUM) * n_link <= F.lit(LINK_DEN) * n_tok)
            & (F.lit(STOP_NUM) * n_stop >= F.lit(STOP_DEN) * n_tok)
        ).alias("is_good"),
        clean.alias("clean_text"),
    )


def extract_main_content(
    df: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """Markup-stripped MAIN text per page: the good blocks of
    markup_blocks, concatenated in document order — the clean-text input
    the dedup / LM-scoring / funnel gates expect.  Composes ahead of
    docs_filter_funnel for crawl-shaped corpora.  One block-keyed
    aggregation; ordering is carried explicitly (collect_list gives no
    order under parallel merge)."""
    blocks = markup_blocks(df, id_col, html_col).filter(F.col("is_good"))
    keyed = F.struct(F.col("block_pos"), F.col("clean_text"))
    agg = blocks.groupBy(id_col).agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(keyed)), lambda s: s["clean_text"]),
            " ",
        ).alias("main_text"),
        F.count(F.lit(1)).alias("n_content_blocks"),
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("main_text", F.lit("")).alias("main_text"),
            F.coalesce("n_content_blocks", F.lit(0)).cast("long").alias(
                "n_content_blocks"
            ),
        )
    )


#: Lines are cut every LINE_TOKENS tokens by the synthetic paragraph
#: builder (5 divides PARA_TOKENS, so lines never straddle paragraphs);
#: the repetition profiler itself never sees this constant.
LINE_TOKENS = 5


def synthetic_paragraph_doc(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Rebuild each document with REAL line/paragraph structure: tokens cut
    into paragraphs of PARA_TOKENS tokens (lines of LINE_TOKENS within a
    paragraph, ``\\n``-joined; paragraphs ``\\n\\n``-joined), plus
    ``doc_id % 4`` extra copies of the FIRST paragraph appended at the end
    — deterministic synthetic boilerplate, so duplicate-line/paragraph
    gates have genuine repetition to fire on.  The corpus's ``text`` ships
    zero newlines (SCALE.md scope note), so this is the same
    fabricate-then-really-parse recipe as synthetic_markup_pages /
    synthetic_media_assets: fabrication is pure codegen string
    construction; the downstream profiler parses the string with no
    access to the token math.  Adds a ``ptext`` column."""
    d = df.select("*", tokens(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    n = F.size(toks)

    def para_str(i):
        # paragraph i (0-based): tokens [25i+1 .. 25i+25], rendered as
        # \n-joined lines of 5 tokens; slice() clamps at the array end so
        # only the LAST paragraph/line comes up short.
        start = i * PARA_TOKENS
        cnt = F.least(F.lit(PARA_TOKENS), n - start)
        return F.array_join(
            F.transform(
                F.sequence(F.lit(0), ((cnt - 1) / LINE_TOKENS).cast("int")),
                lambda j: F.array_join(
                    F.slice(toks, start + j * LINE_TOKENS + 1, LINE_TOKENS), " "
                ),
            ),
            "\n",
        )

    d = d.select(
        "*",
        F.when(n == 0, F.array().cast("array<string>"))
        .otherwise(
            F.transform(F.sequence(F.lit(0), ((n - 1) / PARA_TOKENS).cast("int")), para_str)
        )
        .alias("_paras"),
    )
    body = F.concat(
        F.col("_paras"),
        F.array_repeat(
            F.element_at("_paras", 1), (F.col(id_col) % 4).cast("int")
        ),
    )
    return d.withColumn(
        "ptext",
        F.when(F.size("_paras") == 0, F.lit("")).otherwise(
            F.array_join(body, "\n\n")
        ),
    ).drop("_toks", "_paras")


# Winnowing recipe: WINNOW_K-token shingles, WINNOW_WINDOW-hash windows.
WINNOW_K = 3
WINNOW_WINDOW = 4


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 scheme):
    hash every WINNOW_K-token shingle, keep the min hash of each sliding
    window of WINNOW_WINDOW hashes, dedupe.  Sub-linear fingerprint count per doc.  Used for
    plagiarism-style containment detection at scale.

    Each shingle hashes to the lowercase hex md5 digest and window minima
    are lexicographic — bit-identical in DuckDB, so the correctness oracle
    replays the whole scheme.  Fingerprints are array<string>.

    The sliding-window min runs as posexplode + a rows-frame window MIN —
    codegen'd, O(n·w).  The tempting pure-expression form
    (``transform(sequence(...), i -> array_min(slice(hashes, i, w)))``)
    re-evaluates the hash array per window index inside the interpreted
    higher-order lambda: O(n²) per document, ~15x slower measured.
    """
    from pyspark.sql import Window

    df = ensure_parallelism(df)
    toks = tokens(F.col(text_col))
    hashes = F.transform(shingles(toks, WINNOW_K), lambda s: F.md5(s))
    e = df.select(F.col(id_col), F.posexplode(hashes).alias("_pos", "_h"))
    wmin = Window.partitionBy(id_col).orderBy("_pos").rowsBetween(0, WINNOW_WINDOW - 1)
    wn = Window.partitionBy(id_col)
    mins = e.select(
        F.col(id_col),
        "_pos",
        F.min("_h").over(wmin).alias("_wmin"),
        F.count("_pos").over(wn).alias("_n"),
    )
    # full windows only; a doc with fewer hashes than one window keeps the
    # min of everything it has (the pos==0 truncated frame)
    valid = mins.filter(
        (F.col("_pos") <= F.col("_n") - WINNOW_WINDOW)
        | ((F.col("_n") < WINNOW_WINDOW) & (F.col("_pos") == 0))
    )
    fps = valid.groupBy(id_col).agg(F.array_sort(F.collect_set("_wmin")).alias("fingerprints"))
    return (
        df.select(F.col(id_col))
        .join(fps, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("fingerprints", F.array().cast("array<string>")).alias(
                "fingerprints"
            ),
        )
    )
