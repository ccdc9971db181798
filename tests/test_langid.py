"""Char-trigram + script-range language-ID tests (operators/text_analysis.py).

Round-6: widened from 4 Latin languages to 18 (10 Latin via discriminative
trigram profiles + diacritic markers, 8 non-Latin via script-range counts).
The testdata documents table carries English-vocabulary shuffles under every
lang label (agreement off-en is structurally impossible there — q46 makes
that visible); REAL multilingual discrimination is pinned here on held-out
prose none of which appears in the seed paragraphs.
"""

from __future__ import annotations

import random

import pandas as pd
import pytest

from pdf_extraction_tests_spark.operators import text_analysis as TA

# held-out evaluation prose (disjoint from TA._LANG_SEEDS /
# TA.NONLATIN_SAMPLES): the same four sentence templates translated —
# committee/decision, forest walk, published results, river/village.
EVAL_SENTENCES = {
    "en": [
        "the committee will review the proposal before the end of the month",
        "she walked through the forest thinking about what he had said",
        "most of the results were published in the spring of that year",
        "a long time ago the river changed its course and the village moved",
    ],
    "de": [
        "die regierung hat beschlossen dass die schulen wieder öffnen",
        "er ging durch den wald und dachte über das gespräch nach",
        "die meisten ergebnisse wurden im frühjahr veröffentlicht",
        "vor langer zeit änderte der fluss seinen lauf und das dorf zog um",
    ],
    "fr": [
        "le gouvernement a décidé que les écoles rouvriraient la semaine prochaine",
        "elle marchait dans la forêt en pensant à ce qu'il avait dit",
        "la plupart des résultats ont été publiés au printemps de cette année",
        "il y a longtemps la rivière a changé de cours et le village a déménagé",
    ],
    "es": [
        "el gobierno ha decidido que las escuelas volverán a abrir la próxima semana",
        "ella caminaba por el bosque pensando en lo que él había dicho",
        "la mayoría de los resultados fueron publicados en la primavera",
        "hace mucho tiempo el río cambió su curso y el pueblo se mudó",
    ],
    "it": [
        "il governo ha deciso che le scuole riapriranno la settimana prossima",
        "lei camminava nel bosco pensando a quello che lui aveva detto",
        "la maggior parte dei risultati sono stati pubblicati in primavera",
        "molto tempo fa il fiume ha cambiato il suo corso e il paese si è spostato",
    ],
    "pt": [
        "o governo decidiu que as escolas vão reabrir na próxima semana",
        "ela caminhava pela floresta pensando no que ele tinha dito",
        "a maior parte dos resultados foi publicada na primavera daquele ano",
        "há muito tempo o rio mudou o seu curso e a aldeia se mudou",
    ],
    "nl": [
        "de regering heeft besloten dat de scholen volgende week weer opengaan",
        "zij liep door het bos en dacht na over wat hij had gezegd",
        "de meeste resultaten werden in het voorjaar gepubliceerd",
        "lang geleden veranderde de rivier haar loop en het dorp verhuisde",
    ],
    "sv": [
        "regeringen har beslutat att skolorna ska öppna igen nästa vecka",
        "hon gick genom skogen och tänkte på vad han hade sagt",
        "de flesta resultaten publicerades under våren det året",
        "för länge sedan ändrade floden sitt lopp och byn flyttade",
    ],
    "pl": [
        "rząd zdecydował że szkoły zostaną ponownie otwarte w przyszłym tygodniu",
        "szła przez las myśląc o tym co on powiedział",
        "większość wyników została opublikowana wiosną tego roku",
        "dawno temu rzeka zmieniła swój bieg i wieś się przeniosła",
    ],
    "tr": [
        "hükümet okulların gelecek hafta yeniden açılmasına karar verdi",
        "ormanda yürürken onun söylediklerini düşünüyordu",
        "sonuçların çoğu o yılın ilkbaharında yayımlandı",
        "uzun zaman önce nehir yatağını değiştirdi ve köy taşındı",
    ],
    "ru": [
        "правительство решило что школы снова откроются на следующей неделе",
        "она шла через лес думая о том что он сказал",
        "большинство результатов было опубликовано весной того года",
        "давным давно река изменила своё русло и деревня переехала",
    ],
    "el": [
        "η κυβέρνηση αποφάσισε ότι τα σχολεία θα ανοίξουν ξανά την επόμενη εβδομάδα",
        "περπατούσε μέσα στο δάσος σκεπτόμενη όσα είχε πει εκείνος",
        "τα περισσότερα αποτελέσματα δημοσιεύτηκαν την άνοιξη εκείνης της χρονιάς",
        "πριν από πολλά χρόνια το ποτάμι άλλαξε πορεία και το χωριό μετακόμισε",
    ],
    "ar": [
        "قررت الحكومة أن تفتح المدارس أبوابها مرة أخرى الأسبوع المقبل",
        "كانت تمشي عبر الغابة وهي تفكر فيما قاله",
        "نشرت معظم النتائج في ربيع ذلك العام",
        "منذ زمن بعيد غير النهر مجراه وانتقلت القرية",
    ],
    "he": [
        "הממשלה החליטה שבתי הספר ייפתחו שוב בשבוע הבא",
        "היא הלכה ביער וחשבה על מה שהוא אמר",
        "רוב התוצאות פורסמו באביב של אותה שנה",
        "לפני שנים רבות הנהר שינה את מסלולו והכפר עבר",
    ],
    "hi": [
        "सरकार ने फैसला किया कि स्कूल अगले सप्ताह फिर से खुलेंगे",
        "वह जंगल से होकर चल रही थी और उसकी कही बातों के बारे में सोच रही थी",
        "अधिकांश परिणाम उस वर्ष वसंत में प्रकाशित हुए",
        "बहुत समय पहले नदी ने अपना रास्ता बदल लिया और गाँव स्थानांतरित हो गया",
    ],
    "ko": [
        "정부는 학교가 다음 주에 다시 문을 열기로 결정했다",
        "그녀는 숲을 걸으며 그가 한 말을 생각했다",
        "대부분의 결과는 그 해 봄에 발표되었다",
        "오래 전에 강이 물길을 바꾸었고 마을은 이사했다",
    ],
    "ja": [
        "政府は学校が来週再開することを決めた",
        "彼女は森を歩きながら彼が言ったことを考えていた",
        "ほとんどの結果はその年の春に発表された",
        "昔むかし川は流れを変え村は移転した",
    ],
    "zh": [
        "政府决定学校将于下周重新开放",
        "她走过森林想着他说过的话",
        "大多数结果发表于那一年的春天",
        "很久以前河流改变了河道村庄也搬迁了",
    ],
}


class TestProfiles:
    def test_deterministic_learning(self):
        p1 = TA._learn_trigrams(TA._LANG_SEEDS, TA.N_TRIGRAMS)
        assert p1 == TA.LANG_TRIGRAMS
        for lang, tris in TA.LANG_TRIGRAMS.items():
            assert len(tris) == TA.N_TRIGRAMS
            assert len(set(tris)) == TA.N_TRIGRAMS
            for t in tris:
                assert len(t) == 3
                assert "'" not in t  # SQL-literal safety

    def test_profiles_are_discriminative(self):
        # the same trigram may serve at most one language; a profile
        # dominated by shared trigrams would be useless
        from collections import Counter
        c = Counter(t for tris in TA.LANG_TRIGRAMS.values() for t in tris)
        assert max(c.values()) == 1  # discriminative scoring => disjoint

    def test_language_partition(self):
        # trigram-profiled (Latin) and script-ranged (non-Latin) languages
        # partition LANGUAGES; markers apply only to profiled languages
        assert set(TA.LANG_TRIGRAMS) | set(TA._SCRIPT_RANGES) == set(TA.LANGUAGES)
        assert not set(TA.LANG_TRIGRAMS) & set(TA._SCRIPT_RANGES)
        assert set(TA._MARKER_CHARS) <= set(TA.LANG_TRIGRAMS)

    def test_marker_chars_unique_to_their_language(self):
        # a marker char must not occur in any OTHER language's seed prose
        for lang, chars in TA._MARKER_CHARS.items():
            for other, seed in TA._LANG_SEEDS.items():
                if other == lang:
                    continue
                for c in chars:
                    assert c not in seed, (lang, c, other)


class TestHeldOutAgreement:
    @pytest.fixture(scope="class")
    def guessed(self, spark):
        rows = [
            {"doc_id": i, "lang": lang, "text": s}
            for i, (lang, s) in enumerate(
                (lang, s) for lang, ss in EVAL_SENTENCES.items() for s in ss)
        ]
        df = spark.createDataFrame(pd.DataFrame(rows))
        return (TA.with_language_guess(df)
                .select("doc_id", "lang", "lang_guess").toPandas())

    def test_full_agreement_per_language(self, guessed):
        # every held-out sentence in all 18 languages classifies correctly
        for lang in EVAL_SENTENCES:
            g = guessed[guessed["lang"] == lang]
            agree = float((g["lang_guess"] == g["lang"]).mean())
            assert agree == 1.0, (lang, g.to_dict("records"))

    def test_spark_matches_duckdb_oracle(self, spark, guessed):
        import duckdb

        rows = [
            {"doc_id": i, "text": s}
            for i, s in enumerate(
                s for ss in EVAL_SENTENCES.values() for s in ss)
        ]
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(rows))
        oracle = con.execute(TA.language_guess_sql()).df()
        sdf = spark.createDataFrame(pd.DataFrame(rows))
        got = (TA.with_language_guess(sdf)
               .select("doc_id", "lang_guess").toPandas())
        merged = got.merge(oracle, on="doc_id", suffixes=("_s", "_d"))
        assert (merged["lang_guess_s"] == merged["lang_guess_d"]).all()

    def test_nonlatin_samples_self_classify(self, spark):
        # the frozen non-Latin sample prose must land on its own label
        df = spark.createDataFrame(pd.DataFrame(
            [{"doc_id": i, "lang": lang, "text": s}
             for i, (lang, s) in enumerate(TA.NONLATIN_SAMPLES.items())]))
        got = TA.with_language_guess(df).select("lang", "lang_guess").toPandas()
        assert (got["lang_guess"] == got["lang"]).all(), got.to_dict("records")

    def test_kana_beats_han_for_japanese(self, spark):
        # mixed kanji+kana text is ja even when kanji outnumber kana;
        # pure han text is zh
        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2],
            "text": ["東京大学の研究者は結果を発表した",  # 13 han, 2 kana
                     "東京大学研究者発表結果"],
        }))
        rows = {r.doc_id: r.lang_guess
                for r in TA.with_language_guess(df).collect()}
        assert rows == {1: "ja", 2: "zh"}

    def test_gibberish_is_und(self, spark):
        df = spark.createDataFrame(pd.DataFrame(
            {"doc_id": [0, 1], "text": ["zzz qqq xxx", "0x7f 0x3b 0x11"]}))
        got = TA.with_language_guess(df).select("lang_guess").toPandas()
        assert (got["lang_guess"] == "und").all()


class TestEndToEndCorpus:
    def test_multilingual_family_extracted_then_classified(self, spark):
        """Round-6 advice item 4, closing the loop: the corpus's
        multilingual family writes REAL per-language bodies, the
        extraction pipeline runs, and the language-ID operator over the
        EXTRACTED text recovers the family's language — the end-to-end
        surface q46 cannot provide (its labels sit on English shuffles).
        """
        import re

        from pyspark.sql import functions as F

        from pdf_extraction_tests_spark.corpus import (
            corpus_lang, corpus_spark)
        from pdf_extraction_tests_spark.pipeline import extract_docs

        docs = corpus_spark(spark, "/root/testdata/sf0.001")
        out = extract_docs(docs, num_parts=8)
        # span order is already the array order — no shuffle, no explode
        text = F.expr(
            "concat_ws(' ', transform(filter(spans, s -> s.kind = 'text'),"
            " s -> s.text))")
        got = (TA.with_language_guess(out.select("doc_id",
                                                 text.alias("text")))
               .select("doc_id", "lang_guess").toPandas())
        rows = []
        for r in got.itertuples(index=False):
            n = int(re.match(r"doc(\d+)$", r.doc_id).group(1))
            want = corpus_lang(n)
            if want is not None:
                rows.append((want, r.lang_guess))
        assert len(rows) >= 40            # the family is 1/9 of 500 docs
        langs_seen = {w for w, _ in rows}
        assert len(langs_seen) == 18      # every classifier language
        agree = sum(1 for w, g in rows if w == g)
        # matching bodies -> near-perfect agreement end to end
        assert agree / len(rows) >= 0.95, (
            agree, len(rows),
            [(w, g) for w, g in rows if w != g][:10])


def test_arrow_kernel_matches_duckdb_oracle(spark):
    """with_language_guess's guesses are bit-identical to the DuckDB oracle
    (language_guess_sql, the SQL q29, q46 and q59 are checked against) over
    the synthetic corpus, edge rows (NULL/empty/tie-shaped, upper-case
    non-ASCII) and the adversarial rows of the kernel tests."""
    import duckdb

    docs = pd.read_parquet("/root/testdata/sf0.01/documents.parquet",
                           columns=["doc_id", "text"])
    edge = [None, "", "   ",
            "the of and to a",                 # en-ish, near threshold
            "ß ß ß", "añå",                    # marker-char ties
            # self-overlapping trigram chains: window counts exceed the
            # non-overlapping counts both engines use
            "anananana", "t t t t t", "içiçiçi", "y y y y y", "ininini",
            # upper case outside ASCII: both engines lower it first
            "İSTANBUL ÜNİVERSİTESİ ÖĞRENCİLERİ", "ΣΟΦΙΑ ΚΑΙ ΓΝΩΣΗ",
            "GROẞE STRAẞE", "ǅemal ǄEMAL ǆemal", "ÅSA OCH ÖRJAN",
            "ÑANDÚ ESPAÑOL"]
    extra = edge + _adversarial_texts()
    rows = pd.concat(
        [docs, pd.DataFrame({"doc_id": range(100001, 100001 + len(extra)),
                             "text": extra})],
        ignore_index=True)
    con = duckdb.connect()
    con.register("documents", rows)
    want = dict(con.execute(TA.language_guess_sql()).fetchall())
    got = {r.doc_id: r.lang_guess
           for r in TA.with_language_guess(
               spark.createDataFrame(rows, "doc_id long, text string"))
           .select("doc_id", "lang_guess").collect()}
    assert len(got) == len(rows) > 2300
    mismatched = [(i, got[i], want.get(i)) for i in got if got[i] != want.get(i)]
    assert not mismatched, mismatched[:10]
    # the rows are not all 'und': every classifier path is exercised
    assert len(set(got.values())) >= 8


def _reference_lid_guess_frame(padded: pd.Series) -> pd.Series:
    """The per-pattern scorer the one-pass kernel replaced: one
    ``count_substring`` pass per trigram and marker (non-overlapping
    counts, as the oracle's length-replace reads them) and one
    ``count_substring_regex`` pass per script class."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.array(padded.fillna(""), type=pa.large_string())
    n = len(arr)

    def counts(pattern: str, regex: bool = False):
        fn = pc.count_substring_regex if regex else pc.count_substring
        return fn(arr, pattern=pattern).to_numpy(
            zero_copy_only=False).astype(np.int64)

    scores = {}
    for lang, tris in TA.LANG_TRIGRAMS.items():
        s = np.zeros(n, dtype=np.int64)
        for t in tris:
            s += counts(t) * len(t)
        for c in TA._MARKER_CHARS.get(lang, ""):
            s += counts(c) * (3 * TA._MARKER_WEIGHT)
        scores[lang] = s
    for lang, cls in TA._SCRIPT_RANGES.items():
        scores[lang] = counts(f"[{cls}]", regex=True) * (
            3 * TA._SCRIPT_WEIGHT.get(lang, 1))
    best = np.maximum.reduce(list(scores.values()))
    guess = np.full(n, "und", dtype=object)
    for lang in reversed(list(scores)):
        guess = np.where(scores[lang] == best, lang, guess)
    guess = np.where(best >= TA._LID_THRESHOLD3, guess, "und")
    return pd.Series(guess, dtype=object)


_SELF_OVERLAPPING = [t for tris in TA.LANG_TRIGRAMS.values() for t in tris
                     if t[0] == t[2]]


def _adversarial_texts() -> list:
    """Rows built to break a window-counting kernel: chains of every
    self-overlapping trigram, markers and script characters, non-BMP and
    combining characters, embedded NUL, NULL and empty rows."""
    markers = "".join(TA._MARKER_CHARS.values())
    scripts = "яώيתॐ가ぁ一"
    rows = [None, "", " ", "\x00", "\x00\x00", markers, scripts,
            "ß\x00\x00ß", "\x00\x00ñ", "\x00\x00å ñ", "a\x00ana\x00ß",
            "😀🏳️‍🌈𝔘𝔫", "e\u0301te\u0301 ça", "ß" * 5, "ñåß" * 3]
    for t in _SELF_OVERLAPPING:
        step = t[:2]
        for k in range(1, 6):  # 'ana', 'anana', ... 'ana' chained k times
            chain = step * k + t[2:]
            rows += [chain, chain.strip(), f"x{chain}x", f"{chain}\x00{chain}"]
    rng = random.Random(7)
    alphabet = (list("abcdeilnorstuyz  ") + list(markers) + list(scripts)
                + ["\x00", "😀", "\u0301"]
                + [t for tris in TA.LANG_TRIGRAMS.values() for t in tris])
    for _ in range(1500):
        rows.append("".join(rng.choice(alphabet)
                            for _ in range(rng.randint(0, 40))))
    return rows


def test_self_overlapping_trigrams_are_the_exact_kernel_set():
    # the kernel counts windows for every other trigram; these are the
    # ones whose window count can exceed the non-overlapping count
    assert len(_SELF_OVERLAPPING) == 17
    assert {"t t", " y ", "ana", "i i", "içi"} <= set(_SELF_OVERLAPPING)
    _, _, _, overlapping = TA._LID_TABLE
    assert [t for t, _ in overlapping] == _SELF_OVERLAPPING


def test_one_pass_kernel_matches_per_pattern_reference():
    """No Spark: the kernel's guesses equal the per-pattern reference on
    adversarial rows, padded as the JVM pads them, in one batch and in
    one-row and zero-row batches."""
    rows = _adversarial_texts()
    padded = pd.Series([None if t is None else f" {t} " for t in rows],
                       dtype=object)
    got = TA._lid_guess_frame(padded)
    want = _reference_lid_guess_frame(padded)
    assert len(got) == len(rows)
    mismatched = [(rows[i], got[i], want[i]) for i in range(len(rows))
                  if got[i] != want[i]]
    assert not mismatched, mismatched[:10]
    # the rows are not all 'und': every classifier path is exercised
    assert len(set(got)) >= 8, set(got)
    for i in range(0, len(rows), 97):
        one = padded.iloc[i:i + 1].reset_index(drop=True)
        assert list(TA._lid_guess_frame(one)) == [want[i]]
    empty = pd.Series([], dtype=object)
    assert len(TA._lid_guess_frame(empty)) == 0
    assert len(_reference_lid_guess_frame(empty)) == 0


def test_one_pass_kernel_matches_reference_on_seed_prose():
    texts = list(TA._LANG_SEEDS.values()) + list(TA.NONLATIN_SAMPLES.values())
    texts += [s for ss in EVAL_SENTENCES.values() for s in ss]
    padded = pd.Series([f" {t} " for t in texts], dtype=object)
    assert list(TA._lid_guess_frame(padded)) == list(
        _reference_lid_guess_frame(padded))
