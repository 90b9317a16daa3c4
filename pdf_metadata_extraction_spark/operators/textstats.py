"""Text analysis for training-data pipelines (task mandate): language ID,
quality scoring, token counting, document fingerprinting.

All pure DataFrame expressions on portable primitives → every function
here has a DuckDB oracle in ``__spark_entry__``. The reference's
analogue is the ``language_iso`` column it carries around
(/root/reference/src/tests/test_app.py:123,185) — detection itself lived
outside; at 100 TB it must be in-engine and JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_metadata_extraction_spark.operators import text
from pdf_metadata_extraction_spark.schemas import local_frame

# per-language stopword marker sets (n-gram heuristic; deterministic).
# ASCII-only so lowercasing/replace semantics are identical across
# engines; __spark_entry__ derives its DuckDB oracle from THIS dict, so
# the two can never drift.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " is ", " that ",
           " with ", " for ", " this ", " are ", " have "],
    "fr": [" le ", " la ", " les ", " et ", " est ",
           " des ", " dans ", " pour ", " qui ", " pas "],
    "es": [" el ", " los ", " que ", " es ", " una ",
           " las ", " por ", " con ", " para ", " del "],
    "de": [" der ", " die ", " und ", " ist ", " das ",
           " nicht ", " mit ", " ein ", " auf ", " von "],
    "pt": [" o ", " os ", " que ", " uma ", " com ",
           " para ", " dos ", " em ", " se ", " mais "],
    "it": [" il ", " di ", " che ", " per ", " sono ",
           " del ", " non ", " alla ", " anche ", " come "],
    "nl": [" de ", " het ", " een ", " van ", " en ",
           " dat ", " op ", " te ", " voor ", " zijn "],
    "sv": [" och ", " att ", " det ", " som ", " av ",
           " med ", " den ", " inte ", " har ", " om "],
    "id": [" yang ", " dan ", " di ", " ini ", " itu ",
           " dengan ", " untuk ", " pada ", " adalah ", " dari "],
    "tr": [" bir ", " ve ", " bu ", " ile ", " olarak ",
           " gibi ", " daha ", " sonra ", " kadar ", " ama "],
}


# ------------------------------------------------------------ n-gram ID
# Char-trigram language model (round-2 verdict #5: the 10-marker
# heuristic misses short texts that contain no full marker word). The
# model trains at import time on the embedded per-language snippets
# below (ASCII-folded so lower()/substr semantics are identical across
# engines) and keeps, per language, the top trigrams by a scaled-INTEGER
# log-likelihood-ratio weight — integer sums are order-free and
# bit-identical in Spark and DuckDB, so the oracle can mirror the
# scoring exactly. __spark_entry__ derives its SQL from
# ``trigram_weight_rows()`` — single source of truth, no drift.
_LANG_SNIPPETS: dict[str, str] = {
    "en": "the quick brown fox jumps over the lazy dog and this is what "
          "we know about the people who have been there for many years "
          "because they would not say which of them should come first "
          "when you look at the world today it is easy to see that there "
          "are many things we do not understand and that every one of us "
          "has a different way of thinking about what happened before "
          "good morning how are you doing today my friend i hope that "
          "everything is going well with your family and your work "
          "she said that the children were playing outside in the garden "
          "while their parents were talking about the news of the day",
    "fr": "le renard brun rapide saute par dessus le chien paresseux et "
          "ceci est une phrase pour montrer les mots que nous avons dans "
          "cette langue avec des choses qui ne sont pas toujours vraies "
          "quand on regarde le monde d'aujourd'hui il est facile de voir "
          "qu'il y a beaucoup de choses que nous ne comprenons pas et que "
          "chacun de nous a une facon differente de penser a ce qui est "
          "bonjour comment allez-vous aujourd'hui mon ami j'espere que "
          "tout va bien avec votre famille et votre travail cette semaine "
          "elle a dit que les enfants jouaient dehors dans le jardin "
          "pendant que leurs parents parlaient des nouvelles du jour",
    "es": "el rapido zorro marron salta sobre el perro perezoso y esta "
          "es una frase para mostrar las palabras que tenemos en este "
          "idioma con las cosas que no siempre son verdaderas para todos "
          "cuando miramos el mundo de hoy es facil ver que hay muchas "
          "cosas que no entendemos y que cada uno de nosotros tiene una "
          "manera diferente de pensar sobre lo que paso antes de ahora "
          "buenos dias como estas hoy mi amigo espero que todo vaya bien "
          "con tu familia y tu trabajo durante esta semana tan larga "
          "ella dijo que los ninos estaban jugando afuera en el jardin "
          "mientras sus padres hablaban de las noticias del dia",
    "de": "der schnelle braune fuchs springt ueber den faulen hund und "
          "dies ist ein satz der zeigt welche woerter wir in dieser "
          "sprache haben mit dingen die nicht immer wahr sind fuer alle "
          "wenn man die welt von heute betrachtet ist es leicht zu sehen "
          "dass es viele dinge gibt die wir nicht verstehen und dass "
          "jeder von uns eine andere art hat ueber das nachzudenken was "
          "guten morgen wie geht es dir heute mein freund ich hoffe dass "
          "alles gut laeuft mit deiner familie und deiner arbeit diese "
          "sie sagte dass die kinder draussen im garten spielten "
          "waehrend ihre eltern ueber die nachrichten des tages sprachen",
    "pt": "a rapida raposa marrom pula sobre o cachorro preguicoso e "
          "esta e uma frase para mostrar as palavras que temos nesta "
          "lingua com as coisas que nem sempre sao verdadeiras para nos "
          "quando olhamos para o mundo de hoje e facil ver que ha muitas "
          "coisas que nao entendemos e que cada um de nos tem uma maneira "
          "diferente de pensar sobre o que aconteceu antes de agora "
          "bom dia como voce esta hoje meu amigo espero que tudo esteja "
          "indo bem com a sua familia e o seu trabalho nesta semana "
          "ela disse que as criancas estavam brincando la fora no jardim "
          "enquanto os pais conversavam sobre as noticias do dia",
    "it": "la veloce volpe marrone salta sopra il cane pigro e questa "
          "e una frase per mostrare le parole che abbiamo in questa "
          "lingua con le cose che non sono sempre vere per tutti noi "
          "quando guardiamo il mondo di oggi e facile vedere che ci sono "
          "molte cose che non capiamo e che ognuno di noi ha un modo "
          "diverso di pensare a quello che e successo prima di adesso "
          "buongiorno come stai oggi amico mio spero che tutto vada bene "
          "con la tua famiglia e il tuo lavoro durante questa settimana "
          "lei ha detto che i bambini stavano giocando fuori in giardino "
          "mentre i loro genitori parlavano delle notizie del giorno",
    "nl": "de snelle bruine vos springt over de luie hond en dit is een "
          "zin die laat zien welke woorden wij in deze taal hebben met "
          "dingen die niet altijd waar zijn voor iedereen hier vandaag "
          "als je naar de wereld van vandaag kijkt is het gemakkelijk om "
          "te zien dat er veel dingen zijn die we niet begrijpen en dat "
          "ieder van ons een andere manier heeft om na te denken over "
          "goedemorgen hoe gaat het vandaag met je mijn vriend ik hoop "
          "dat alles goed gaat met je familie en je werk deze week "
          "ze zei dat de kinderen buiten in de tuin aan het spelen waren "
          "terwijl hun ouders over het nieuws van de dag praatten",
    "sv": "den snabba bruna raeven hoppar oever den lata hunden och det "
          "haer aer en mening som visar vilka ord vi har i detta spraak "
          "med saker som inte alltid aer sanna foer alla maenniskor "
          "naer man tittar paa vaerlden idag aer det laett att se att "
          "det finns maanga saker som vi inte foerstaar och att var och "
          "en av oss har ett annat saett att taenka paa vad som haende "
          "god morgon hur maar du idag min vaen jag hoppas att allt gaar "
          "bra med din familj och ditt arbete under den haer veckan "
          "hon sa att barnen lekte ute i traedgaarden medan deras "
          "foeraeldrar pratade om dagens nyheter tillsammans",
    "id": "rubah coklat yang cepat melompati anjing yang malas dan ini "
          "adalah kalimat untuk menunjukkan kata kata yang kita miliki "
          "dalam bahasa ini dengan hal hal yang tidak selalu benar "
          "ketika kita melihat dunia hari ini mudah untuk melihat bahwa "
          "ada banyak hal yang tidak kita pahami dan bahwa setiap orang "
          "dari kita memiliki cara berpikir yang berbeda tentang apa yang "
          "selamat pagi apa kabar hari ini temanku saya harap semuanya "
          "berjalan baik dengan keluarga dan pekerjaan anda minggu ini "
          "dia mengatakan bahwa anak anak sedang bermain di luar di kebun "
          "sementara orang tua mereka berbicara tentang berita hari ini",
    "tr": "hizli kahverengi tilki tembel kopegin uzerinden atlar ve bu "
          "dilde sahip oldugumuz kelimeleri gosteren bir cumledir ve "
          "bazi seyler her zaman dogru degildir herkes icin burada "
          "bugunun dunyasina baktigimizda anlamadigimiz bircok seyin "
          "oldugunu gormek kolaydir ve her birimizin daha once olanlar "
          "hakkinda farkli bir dusunme bicimi vardir bunu unutmayalim "
          "gunaydin bugun nasilsin arkadasim umarim ailenle ve isinle "
          "ilgili her sey yolunda gidiyordur bu hafta boyunca boyle "
          "cocuklarin disarida bahcede oynadigini soyledi bu sirada "
          "anne ve babalari gunun haberleri hakkinda konusuyordu",
}

LANG_NGRAM_PREFIX = 256  # detection scans at most this many chars
_NGRAM_TOP_K = 128       # trigrams kept per language


def _snippet_trigrams(text: str) -> list[str]:
    t = " " + " ".join(text.split()) + " "
    return [t[i:i + 3] for i in range(len(t) - 2)]


import functools


@functools.lru_cache(maxsize=1)
def trigram_weight_rows() -> list[tuple[str, str, int, int]]:
    """(tri, lang, weight, lang_rank) rows for the broadcast weight table.

    weight = round(1000 · log P(tri|lang)/P̄(tri)) with add-1 smoothing,
    positive weights only (evidence FOR a language), top-K per language.
    Integers → exact, order-free sums in both engines. Cached (pure
    function of the module-level snippets); callers must not mutate.
    """
    import math

    counts = {lang: {} for lang in _LANG_SNIPPETS}
    for lang, snippet in _LANG_SNIPPETS.items():
        for tri in _snippet_trigrams(snippet):
            counts[lang][tri] = counts[lang].get(tri, 0) + 1
    vocab = sorted({t for c in counts.values() for t in c})
    totals = {lang: sum(c.values()) for lang, c in counts.items()}
    n_langs = len(_LANG_SNIPPETS)
    rows: list[tuple[str, str, int, int]] = []
    for rank, lang in enumerate(_LANG_SNIPPETS):
        weighted = []
        for tri in vocab:
            p = (counts[lang].get(tri, 0) + 1) / (totals[lang] + len(vocab))
            p_avg = sum(
                (counts[o].get(tri, 0) + 1) / (totals[o] + len(vocab))
                for o in _LANG_SNIPPETS
            ) / n_langs
            w = round(1000 * math.log(p / p_avg))
            if w > 0:
                weighted.append((-w, tri))
        weighted.sort()
        for neg_w, tri in weighted[:_NGRAM_TOP_K]:
            rows.append((tri, lang, -neg_w, rank))
    return rows


def detect_language_ngram(
    df: DataFrame, id_col: str, text_col: str = "text",
    prefix_chars: int = LANG_NGRAM_PREFIX,
) -> DataFrame:
    """Trigram language ID → (id, detected_lang, lang_confidence).

    Explode the normalized text prefix into ALL char trigrams
    (multiplicity kept — evidence accumulates), broadcast-join the
    integer weight table, sum per (id, lang), argmax with the snippet
    order as tie-break. The trigram explode is bounded by
    ``prefix_chars`` (≤254 rows/doc), the join side is broadcast, and
    the (id, lang) groupBy is a uniform-key shuffle with map-side
    partial sums — the 100 TB shape.
    """
    wdf = local_frame(
        df.sparkSession,
        trigram_weight_rows(),
        "tri string, lang string, wt long, lang_rank int",
    )
    norm = df.select(
        F.col(id_col).alias("id"),
        F.concat(
            F.lit(" "),
            F.substring(text.fold(text_col), 1, prefix_chars),
            F.lit(" "),
        ).alias("_t"),
    )
    tris = norm.select("id", F.explode(text.shingles("_t", 3)).alias("tri"))
    scored = (
        tris.join(F.broadcast(wdf), "tri")
        .groupBy("id", "lang", "lang_rank")
        .agg(F.sum("wt").cast("long").alias("s"))
    )
    best = scored.groupBy("id").agg(
        F.max(
            F.struct(
                F.col("s"), (-F.col("lang_rank")).alias("nr"), F.col("lang")
            )
        ).alias("b"),
        F.sum("s").cast("long").alias("total"),
    )
    return df.select(F.col(id_col).alias("id")).join(best, "id", "left").select(
        "id",
        F.coalesce(F.col("b.lang"), F.lit("und")).alias("detected_lang"),
        F.round(
            F.when(F.col("total") > 0, F.col("b.s") / F.col("total"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("lang_confidence"),
    )


def _count_occurrences(text: Column, marker: str) -> Column:
    """Occurrences of marker via length arithmetic (portable SQL idiom)."""
    return (
        F.length(text) - F.length(F.replace(text, F.lit(marker), F.lit("")))
    ) / len(marker)


def lang_score_columns(text_col: str = "text") -> list[Column]:
    padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    cols = []
    for lang, markers in _LANG_MARKERS.items():
        score = sum(_count_occurrences(padded, m) for m in markers)
        cols.append(score.alias(f"score_{lang}"))
    return cols


def detect_language(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Stopword-marker language ID → (id, detected_lang, lang_confidence)."""
    scored = df.select(F.col(id_col).alias("id"), *lang_score_columns(text_col))
    langs = list(_LANG_MARKERS)
    # argmax over the score columns; deterministic tie-break = langs order
    pairs = F.array(
        *[F.struct(F.col(f"score_{l}").alias("s"), F.lit(i).alias("i")) for i, l in enumerate(langs)]
    )
    best = F.array_max(
        F.transform(pairs, lambda p: F.struct(p["s"].alias("s"), (-p["i"]).alias("ni")))
    )
    total = sum(F.col(f"score_{l}") for l in langs)
    lang_name = F.element_at(
        F.array(*[F.lit(l) for l in langs]), (-best["ni"]).cast("int") + 1
    )
    return scored.select(
        "id",
        F.when(best["s"] > 0, lang_name).otherwise(F.lit("und")).alias("detected_lang"),
        F.round(
            F.when(total > 0, best["s"] / total).otherwise(F.lit(0.0)), 6
        ).alias("lang_confidence"),
    )


# C4-style English stopwords for the stopword-ratio quality signal
# (a real-text page has a healthy share of function words; keyword-spam
# and boilerplate lists do not). ASCII, lowercase — portable.
_QUALITY_STOPWORDS = (
    "the", "and", "of", "to", "in", "is", "that", "it", "for", "on",
    "with", "as", "was", "are", "be", "this", "at", "by", "an", "or",
)


def quality_score(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + a composite score ∈ [0,1].

    Signals: length band, alpha/digit/punct ratios, mean word length,
    stopword ratio — the usual web-corpus filters (C4/Gopher-style) as
    pure expressions.
    """
    t = F.col(text_col)
    n = F.greatest(F.length(t), F.lit(1)).cast("double")
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", "")) / n
    digits = F.length(F.regexp_replace(t, r"[^0-9]", "")) / n
    punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", "")) / n
    spaces = F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit("")))
    n_words = (spaces + 1).cast("double")
    words = text.words(text_col)
    stop_hits = F.size(
        F.filter(words, lambda w: w.isin(list(_QUALITY_STOPWORDS)))
    )
    stopword_ratio = stop_hits / F.greatest(F.size(words), F.lit(1)).cast("double")
    mean_word_len = n / n_words
    len_ok = (F.length(t) >= 50) & (F.length(t) <= 100000)
    word_ok = (mean_word_len >= 3.0) & (mean_word_len <= 12.0)
    score = (
        F.when(len_ok, 0.4).otherwise(0.0)
        + F.when(word_ok, 0.3).otherwise(0.0)
        + F.when(alpha >= 0.6, 0.2).otherwise(0.0)
        + F.when(digits <= 0.2, 0.1).otherwise(0.0)
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.length(t).alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        F.round(alpha, 6).alias("alpha_ratio"),
        F.round(digits, 6).alias("digit_ratio"),
        F.round(punct, 6).alias("punct_ratio"),
        F.round(stopword_ratio, 6).alias("stopword_ratio"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(score, 6).alias("quality"),
    )


def token_counts(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish subword estimate (len/4 heuristic +
    punctuation splits) — the budgeting numbers a training pipeline needs."""
    t = F.col(text_col)
    ws_tokens = F.size(F.filter(F.split(t, r"\s+"), lambda w: w != ""))
    punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
    bpe_est = F.ceil(F.length(F.regexp_replace(t, r"\s+", "")) / 4.0) + punct
    return df.select(
        F.col(id_col).alias("id"),
        ws_tokens.cast("long").alias("ws_tokens"),
        bpe_est.cast("long").alias("bpe_tokens_est"),
    )


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str = "text",
    k: int = 8, w: int = 4, prefix_chars: int = 512,
) -> DataFrame:
    """MOSS-style winnowing (Schleimer et al., SIGMOD 2003): k-gram
    rolling hashes over the normalized text, one minimum per window of
    ``w`` consecutive hashes, distinct → (id, fp) rows.

    Guarantee: any two documents sharing a substring of length ≥
    w + k − 1 share at least one fingerprint — the partial-copy
    detection primitive exact/minhash dedup lacks (those compare whole
    documents). Pure whole-stage-codegen expressions on the portable
    md5 core (same int-prefix idiom as ``fingerprint``), so the DuckDB
    oracle mirrors it exactly; ``prefix_chars`` bounds per-row work.
    The output is a narrow (id, fp) table: self-join on fp = candidate
    partial-copy pairs, shuffle on uniform 60-bit keys.
    """
    norm = df.select(
        F.col(id_col).alias("id"),
        F.substring(text.fold(text_col), 1, prefix_chars).alias("_t"),
    )
    hashes = norm.select(
        "id",
        F.expr(
            f"transform({text.SHINGLES.format(t='_t', n=k)},"
            " s -> cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint))"
        ).alias("hs"),
    )
    return hashes.select(
        "id",
        F.explode(
            F.expr(
                f"array_distinct(transform("
                f"sequence(1, greatest(size(hs) - {w - 1}, 1)),"
                f" i -> array_min(slice(hs, i, {w}))))"
            )
        ).alias("fp"),
    )


def shared_span_pairs(
    fps: DataFrame,
    min_shared: int = 2,
    max_docs_per_fp: int = 50,
) -> DataFrame:
    """Cross-document duplicate-SPAN candidates from winnowing
    fingerprints: (id_a, id_b, n_shared) for every ordered doc pair
    sharing >= ``min_shared`` fingerprints.

    This is the corpus-level consumer of ``winnow_fingerprints`` — the
    substring-granular analogue of exact-substring dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    whole-document dedup misses a page that quotes 300 words of
    another page; a shared winnow fingerprint certifies a shared run
    of length >= w + k - 1 regardless of the rest of the documents.

    Scale shape: the self-join shuffles on uniform 60-bit fp keys;
    a fingerprint held by K docs emits K(K-1)/2 pairs, so
    ``max_docs_per_fp`` drops corpus-stopword spans (boilerplate
    shared by thousands of pages — the LSH family's mega-bucket cap,
    same rationale: those spans are boilerplate.py's job, not pair
    evidence) before the quadratic step. Pair counts aggregate with
    map-side partials on the (id_a, id_b) composite key.

    Input is the (id, fp) output of ``winnow_fingerprints`` (already
    distinct per doc). Output order-free; ``id_a < id_b``.
    """
    eligible = (
        fps.groupBy("fp")
        .agg(F.count("*").cast("long").alias("_n"))
        .where((F.col("_n") >= 2) & (F.col("_n") <= max_docs_per_fp))
        .select("fp")
    )
    live = fps.join(eligible, "fp", "left_semi")
    a = live.select("fp", F.col("id").alias("id_a"))
    b = live.select("fp", F.col("id").alias("id_b"))
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Stable document fingerprint: md5 of the normalized text plus a
    64-bit prefix as a join-friendly integer."""
    h = F.md5(text.fold(text_col))
    return df.select(
        F.col(id_col).alias("id"),
        h.alias("fp_md5"),
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long").alias("fp_int"),
    )


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals: (id, n_words, dup_word_frac,
    dup_2gram_frac, dup_3gram_frac).

    ``dup_ngram_frac`` = 1 − distinct n-grams / total n-grams — the
    fraction of n-gram slots that repeat an earlier n-gram. Boilerplate
    shells, keyword-stuffed spam, and template pages score high and get
    dropped by the quality gate (Gopher's repetition filters, Rae et
    al. 2021, §A1.1 — the in-doc analogue of the corpus-level dedup
    family in dedup.py).

    Pure array expressions (the text layer's words and word n-grams,
    array_distinct): map-only, zero shuffle, whole-stage codegen, no
    lambda; the DuckDB oracle builds the same grams with 1-based
    element_at. Fractions are round(1.0 − distinct/total, 6) with identical
    parenthesization cross-engine; empty/short docs score 0.0.
    """
    d = df.select(
        F.col(id_col).alias("id"),
        text.words(text_col).alias("_w"),
    ).select(
        "id", "_w",
        text.word_ngrams("_w", 2).alias("_g2"),
        text.word_ngrams("_w", 3).alias("_g3"),
    )

    def frac(arr: str) -> Column:
        total = F.size(arr)
        distinct = F.size(F.array_distinct(arr))
        return F.when(
            total > 0,
            F.round(
                F.lit(1.0) - distinct.cast("double") / total.cast("double"), 6
            ),
        ).otherwise(F.lit(0.0))

    return d.select(
        "id",
        F.size("_w").cast("long").alias("n_words"),
        frac("_w").alias("dup_word_frac"),
        frac("_g2").alias("dup_2gram_frac"),
        frac("_g3").alias("dup_3gram_frac"),
    )


def quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.7,
    max_dup_word_frac: float = 0.3,
) -> DataFrame:
    """The composed C4+Gopher keep-gate: rows survive iff the
    quality_score composite >= ``min_quality`` AND repetition_signals'
    dup_word_frac <= ``max_dup_word_frac`` — the standard corpus
    pre-training filter, as ONE map-only pass (the two signals share
    the tokenized word array; no join, no shuffle — at 10^12 rows a
    recombination join of the two signal frames would be a pointless
    full-corpus shuffle).

    Returns (id, quality, dup_word_frac) for kept rows. The inlined
    expressions are pinned equal to quality_score ⋈ repetition_signals
    by test_quality_filter_equals_joined_operators — edit them in
    lockstep.
    """
    t = F.col(text_col)
    n = F.greatest(F.length(t), F.lit(1)).cast("double")
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", "")) / n
    digits = F.length(F.regexp_replace(t, r"[^0-9]", "")) / n
    spaces = F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit("")))
    mean_word_len = n / (spaces + 1).cast("double")
    len_ok = (F.length(t) >= 50) & (F.length(t) <= 100000)
    word_ok = (mean_word_len >= 3.0) & (mean_word_len <= 12.0)
    score = F.round(
        F.when(len_ok, 0.4).otherwise(0.0)
        + F.when(word_ok, 0.3).otherwise(0.0)
        + F.when(alpha >= 0.6, 0.2).otherwise(0.0)
        + F.when(digits <= 0.2, 0.1).otherwise(0.0),
        6,
    )
    words = text.words(text_col)
    total = F.size(words)
    dup = F.when(
        total > 0,
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(words)).cast("double")
            / total.cast("double"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return (
        df.select(
            F.col(id_col).alias("id"),
            score.alias("quality"),
            dup.alias("dup_word_frac"),
        )
        .where(
            (F.col("quality") >= min_quality)
            & (F.col("dup_word_frac") <= max_dup_word_frac)
        )
    )


# C0 controls except \t\n\r, DEL, and the C1 block — the bytes that
# appear in text only through encoding damage or binary bleed-through
_CTRL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f]"


def encoding_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Encoding-damage audit: (id, n_replacement, n_control,
    n_mojibake_lead, bad_char_ratio).

    - ``n_replacement``: U+FFFD chars — a decoder already gave up;
    - ``n_control``: C0 (minus tab/newline/CR), DEL and C1 chars —
      binary bleed-through or double-decoded CP-1252;
    - ``n_mojibake_lead``: 'Ã' (U+00C3) occurrences — the classic
      UTF-8-bytes-read-as-Latin-1 lead byte ('é' -> 'Ã©'); counted,
      not scrubbed (legitimate in e.g. Portuguese 'nÃo' is rare but
      possible — precision-first, this is an AUDIT signal feeding the
      quality gate, not a filter);
    - ``bad_char_ratio``: (replacement + control) / length.

    Pure length-difference and regexp expressions — map-only,
    codegen, zero shuffle; mirrored in the DuckDB oracle.
    """
    t = F.col(text_col)
    n_repl = F.length(t) - F.length(F.replace(t, F.lit("�"), F.lit("")))
    n_ctrl = F.length(t) - F.length(F.regexp_replace(t, _CTRL_RE, ""))
    n_moji = F.length(t) - F.length(F.replace(t, F.lit("Ã"), F.lit("")))
    denom = F.greatest(F.length(t), F.lit(1)).cast("double")
    return df.select(
        F.col(id_col).alias("id"),
        n_repl.cast("long").alias("n_replacement"),
        n_ctrl.cast("long").alias("n_control"),
        n_moji.cast("long").alias("n_mojibake_lead"),
        F.round((n_repl + n_ctrl).cast("double") / denom, 6).alias(
            "bad_char_ratio"
        ),
    )
