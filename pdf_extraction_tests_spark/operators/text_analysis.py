"""Text-analysis operators: language-ID, quality scoring, token counting,
document fingerprinting.

Quality, token counts and fingerprints are pure column expressions
(whole-stage codegen, no UDF).  Language ID is one Arrow-batched pandas
UDF (:func:`with_language_guess`).  None shuffles beyond any final
aggregation the caller adds, and each has an exact DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf resolves pd.Series hints here

from pyspark.sql import DataFrame, functions as F

from .boilerplate import quoted
from .dedup import h48

# ---------------------------------------------------------------------------
# Language ID - three signal tiers, all exact integer arithmetic in the
# Arrow kernel and in its DuckDB oracle (counts via length-replace there;
# no floats, so cross-engine ties are bit-identical):
#
#   1. Latin-script languages: DISCRIMINATIVE char-trigram profiles
#      (Cavnar & Trenkle 1994 shape) learned at import from frozen
#      multi-register seed prose (narrative / maritime / library / report
#      paragraphs per language - register diversity is what makes short
#      held-out sentences classify; single-paragraph seeds measurably
#      don't, see tests/test_langid.py).
#   2. Latin diacritic MARKERS: characters unique to one language within
#      the supported set count extra - the diacritic inventory is a
#      language signature the trigram profiles under-weight on short text.
#   3. Non-Latin languages: script-range character counts (the script IS
#      the discriminator - ru is the set's only Cyrillic language, etc.).
#      Japanese scores on kana ONLY, weighted 3x, so mixed kanji+kana text
#      beats the zh han count; Chinese scores on han.
#
# Scores are kept in thirds-of-a-hit units (a trigram occurrence
# contributes its 3-char length delta directly) so everything stays
# integer.  The classifier shape (argmax + threshold + deterministic
# insertion-order tie priority) mirrors the reference's format detector
# (v10.R:603-675).
# ---------------------------------------------------------------------------

# frozen seed prose - editing any paragraph CHANGES THE CLASSIFIER.
# Four+ registers per language, same content translated across languages
# so cross-language trigram overlap is realistic.  Dict insertion order is
# the deterministic tie priority (en first).
_LANG_SEEDS: dict[str, str] = {
    "en": (
        "the quick brown fox jumps over the lazy dog and every morning "
        "the people of the town would gather in the market to talk "
        "about the weather the news and the price of bread which had "
        "been rising for many years while the children played in the "
        "street and the old men watched them with quiet smiles "
        "remembering the days of their own youth and the things that "
        "they had seen in the winter the sea grew dark and the "
        "fishermen stayed near the shore because the wind was too "
        "strong for the small boats and they spent the long evenings "
        "mending their nets by the fire telling stories of storms they "
        "had survived and of the strange things they had seen far away "
        "from home she opened the library early and set the books back "
        "on their shelves while the rain fell against the windows and a "
        "few students came in to read about history and science and the "
        "librarian knew most of them by name and asked about their "
        "families and their work the report was presented during the "
        "meeting and most of the members of the council voted in favour "
        "of the proposal because the numbers showed that the situation "
        "in the region had improved since the start of the programme "
        "and the chairman thanked everyone who had taken part in the "
        "project"
    ),
    "de": (
        "der schnelle braune fuchs springt über den faulen hund und "
        "jeden morgen versammelten sich die menschen der stadt auf dem "
        "markt um über das wetter die nachrichten und den preis des "
        "brotes zu sprechen der seit vielen jahren stieg während die "
        "kinder auf der straße spielten und die alten männer ihnen mit "
        "einem stillen lächeln zusahen und sich an die tage ihrer "
        "eigenen jugend erinnerten im winter wurde das meer dunkel und "
        "die fischer blieben nahe am ufer weil der wind zu stark für "
        "die kleinen boote war und sie verbrachten die langen abende "
        "damit ihre netze am feuer zu flicken und erzählten geschichten "
        "von stürmen die sie überlebt hatten und von den seltsamen "
        "dingen die sie weit weg von zuhause gesehen hatten sie öffnete "
        "die bibliothek früh und stellte die bücher zurück in die "
        "regale während der regen gegen die fenster fiel und einige "
        "studenten kamen herein um über geschichte und wissenschaft zu "
        "lesen und die bibliothekarin kannte die meisten von ihnen beim "
        "namen und fragte nach ihren familien und ihrer arbeit der "
        "bericht wurde während der sitzung vorgestellt und die meisten "
        "mitglieder des rates stimmten für den vorschlag weil die "
        "zahlen zeigten dass sich die lage in der region seit dem "
        "beginn des programms verbessert hatte und der vorsitzende "
        "dankte allen die an dem projekt teilgenommen hatten"
    ),
    "fr": (
        "le rapide renard brun saute par dessus le chien paresseux et "
        "chaque matin les gens de la ville se réunissaient au marché "
        "pour parler du temps des nouvelles et du prix du pain qui "
        "augmentait depuis de nombreuses années pendant que les enfants "
        "jouaient dans la rue et que les vieux hommes les regardaient "
        "avec un sourire tranquille en se souvenant des jours de leur "
        "propre jeunesse en hiver la mer devenait sombre et les "
        "pêcheurs restaient près du rivage parce que le vent était trop "
        "fort pour les petits bateaux et ils passaient les longues "
        "soirées à réparer leurs filets près du feu en racontant des "
        "histoires de tempêtes et de choses étranges vues loin de chez "
        "eux elle ouvrait la bibliothèque tôt et remettait les livres "
        "sur les étagères pendant que la pluie tombait contre les "
        "fenêtres et quelques étudiants entraient pour lire des "
        "ouvrages sur la science et la bibliothécaire connaissait la "
        "plupart de leurs noms et demandait des nouvelles de leurs "
        "familles et de leur travail le rapport fut présenté pendant la "
        "réunion et la plupart des membres du conseil ont voté pour la "
        "proposition parce que les chiffres montraient que la situation "
        "de la région était meilleure depuis le début du programme et "
        "le président a remercié tous ceux qui avaient participé au "
        "projet il y a quelques années le maire de la ville a décidé de "
        "construire un pont sur le fleuve et les habitants du village "
        "voisin étaient contents parce que le chemin vers le marché "
        "devenait beaucoup plus court et les enfants pouvaient aller "
        "vers la grande école sans faire le long détour par la colline"
    ),
    "es": (
        "el rápido zorro marrón salta sobre el perro perezoso y cada "
        "mañana la gente del pueblo se reunía en el mercado para hablar "
        "del tiempo de las noticias y del precio del pan que había "
        "subido durante muchos años mientras los niños jugaban en la "
        "calle y los viejos hombres los miraban con una sonrisa "
        "tranquila recordando los días de su propia juventud en "
        "invierno el mar se volvía oscuro y los pescadores se quedaban "
        "cerca de la orilla porque el viento era demasiado fuerte para "
        "los barcos pequeños y pasaban las largas tardes reparando sus "
        "redes junto al fuego contando historias de tormentas que "
        "habían sobrevivido y de las cosas extrañas que habían visto "
        "lejos de casa ella abría la biblioteca temprano y devolvía los "
        "libros a sus estantes mientras la lluvia caía contra las "
        "ventanas y algunos estudiantes entraban para leer sobre "
        "historia y ciencia y la bibliotecaria conocía a la mayoría por "
        "su nombre y preguntaba por sus familias y su trabajo el "
        "informe fue presentado durante la reunión y la mayoría de los "
        "miembros del consejo votó a favor de la propuesta porque los "
        "números mostraban que la situación de la región había mejorado "
        "desde el comienzo del programa y el presidente agradeció a "
        "todos los que participaron en el proyecto"
    ),
    "it": (
        "la veloce volpe marrone salta sopra il cane pigro e ogni "
        "mattina la gente della città si riuniva al mercato per parlare "
        "del tempo delle notizie e del prezzo del pane che aumentava da "
        "molti anni mentre i bambini giocavano nella strada e i vecchi "
        "uomini li guardavano con un sorriso tranquillo ricordando i "
        "giorni della loro propria giovinezza in inverno il mare "
        "diventava scuro e i pescatori restavano vicino alla riva "
        "perché il vento era troppo forte per le piccole barche e "
        "passavano le lunghe serate a riparare le loro reti accanto al "
        "fuoco raccontando storie di tempeste che avevano superato e "
        "delle cose strane che avevano visto lontano da casa lei apriva "
        "la biblioteca presto e rimetteva i libri sugli scaffali mentre "
        "la pioggia cadeva contro le finestre e alcuni studenti "
        "entravano per leggere di storia e di scienza e la "
        "bibliotecaria conosceva la maggior parte di loro per nome e "
        "chiedeva delle loro famiglie e del loro lavoro il rapporto fu "
        "presentato durante la riunione e la maggioranza dei membri del "
        "consiglio votò a favore della proposta perché i numeri "
        "mostravano che la situazione della regione era migliorata dal "
        "principio del programma e il presidente ringraziò tutti quelli "
        "che avevano partecipato al progetto"
    ),
    "pt": (
        "a rápida raposa marrom salta sobre o cão preguiçoso e todas as "
        "manhãs as pessoas da cidade se reuniam no mercado para falar "
        "do tempo das notícias e do preço do pão que subia havia muitos "
        "anos enquanto as crianças brincavam na rua e os homens velhos "
        "as olhavam com um sorriso tranquilo lembrando os dias da sua "
        "própria juventude no inverno o mar ficava escuro e os "
        "pescadores ficavam perto da costa porque o vento era forte "
        "demais para os barcos pequenos e passavam as longas noites "
        "consertando as suas redes junto ao fogo contando histórias de "
        "tempestades que tinham sobrevivido e das coisas estranhas que "
        "tinham visto longe de casa ela abria a biblioteca cedo e "
        "devolvia os livros às suas prateleiras enquanto a chuva caía "
        "contra as janelas e alguns estudantes entravam para ler sobre "
        "história e ciência e a bibliotecária conhecia a maioria deles "
        "pelo nome e perguntava pelas suas famílias e pelo seu trabalho "
        "o relatório foi apresentado durante a reunião e a maioria dos "
        "membros do conselho votou a favor da proposta porque os "
        "números mostravam que a situação da região tinha melhorado "
        "desde o início do programa e o presidente agradeceu o esforço "
        "de todos os que participaram no projeto"
    ),
    "nl": (
        "de snelle bruine vos springt over de luie hond en elke ochtend "
        "kwamen de mensen van de stad samen op de markt om te praten "
        "over het weer het nieuws en de prijs van het brood die al vele "
        "jaren steeg terwijl de kinderen op straat speelden en de oude "
        "mannen naar hen keken met een stille glimlach denkend aan de "
        "dagen van hun eigen jeugd in de winter werd de zee donker en "
        "de vissers bleven dicht bij de kust omdat de wind te sterk was "
        "voor de kleine boten en zij brachten de lange avonden door met "
        "het herstellen van hun netten bij het vuur terwijl zij "
        "verhalen vertelden over stormen die zij hadden overleefd en "
        "over de vreemde dingen die zij ver van huis hadden gezien zij "
        "opende de bibliotheek vroeg en zette de boeken terug op de "
        "planken terwijl de regen tegen de ramen viel en enkele "
        "studenten kwamen binnen om over geschiedenis en wetenschap te "
        "lezen en de bibliothecaresse kende de meesten van hen bij naam "
        "en vroeg naar hun families en hun werk het verslag werd "
        "tijdens de vergadering gepresenteerd en de meeste leden van de "
        "raad stemden voor het voorstel omdat de cijfers lieten zien "
        "dat de toestand in de regio was verbeterd sinds het begin van "
        "het programma en de voorzitter bedankte iedereen die aan het "
        "project had meegewerkt"
    ),
    "sv": (
        "den snabba bruna räven hoppar över den lata hunden och varje "
        "morgon samlades stadens människor på torget för att tala om "
        "vädret nyheterna och priset på brödet som hade stigit i många "
        "år medan barnen lekte på gatan och de gamla männen såg på dem "
        "med ett stilla leende och mindes dagarna av sin egen ungdom på "
        "vintern blev havet mörkt och fiskarna stannade nära stranden "
        "eftersom vinden var för stark för de små båtarna och de "
        "tillbringade de långa kvällarna med att laga sina nät vid "
        "elden medan de berättade historier om stormar som de hade "
        "överlevt och om de märkliga saker som de hade sett långt "
        "hemifrån hon öppnade biblioteket tidigt och ställde tillbaka "
        "böckerna på hyllorna medan regnet föll mot fönstren och några "
        "studenter kom in för att läsa om historia och vetenskap och "
        "bibliotekarien kände de flesta av dem vid namn och frågade om "
        "deras familjer och deras arbete rapporten lades fram under "
        "mötet och de flesta av ledamöterna röstade för förslaget "
        "eftersom siffrorna visade att läget i regionen hade blivit "
        "bättre sedan programmet började och ordföranden tackade alla "
        "som hade deltagit i projektet under det senaste året för några "
        "år sedan bestämde sig stadens borgmästare för att bygga en bro "
        "över älven och invånarna i grannbyn blev glada eftersom vägen "
        "till torget blev mycket kortare och barnen kunde gå till "
        "skolan utan att ta den långa omvägen över kullen"
    ),
    "pl": (
        "szybki brązowy lis skacze nad leniwym psem i każdego ranka "
        "ludzie miasta gromadzili się na rynku aby rozmawiać o pogodzie "
        "wiadomościach i cenie chleba która rosła od wielu lat podczas "
        "gdy dzieci bawiły się na ulicy a starzy mężczyźni patrzyli na "
        "nie z cichym uśmiechem wspominając dni własnej młodości zimą "
        "morze stawało się ciemne a rybacy trzymali się blisko brzegu "
        "ponieważ wiatr był zbyt silny dla małych łodzi i spędzali "
        "długie wieczory naprawiając swoje sieci przy ogniu opowiadając "
        "historie o burzach które przeżyli i o dziwnych rzeczach które "
        "widzieli daleko od domu otwierała bibliotekę wcześnie i "
        "odkładała książki na półki podczas gdy deszcz padał na okna a "
        "kilku studentów przychodziło czytać o historii i nauce a "
        "bibliotekarka znała większość z nich po imieniu i pytała o ich "
        "rodziny i ich pracę raport został przedstawiony podczas "
        "posiedzenia i większość członków rady głosowała za wnioskiem "
        "ponieważ liczby pokazywały że sytuacja w regionie poprawiła "
        "się od początku programu a przewodniczący podziękował "
        "wszystkim którzy brali udział w projekcie"
    ),
    "tr": (
        "hızlı kahverengi tilki tembel köpeğin üzerinden atlar ve her "
        "sabah kasabanın insanları hava durumu haberler ve yıllardır "
        "yükselen ekmeğin fiyatı hakkında konuşmak için pazarda "
        "toplanırdı çocuklar sokakta oynarken yaşlı adamlar kendi "
        "gençlik günlerini hatırlayarak onları sessiz bir gülümsemeyle "
        "izlerdi kışın deniz kararırdı ve balıkçılar kıyıya yakın "
        "kalırdı çünkü rüzgar küçük tekneler için çok güçlüydü ve uzun "
        "akşamları ateşin yanında ağlarını onararak geçirirlerdi "
        "atlattıkları fırtınaların ve evden uzakta gördükleri tuhaf "
        "şeylerin hikayelerini anlatırlardı kütüphaneyi erken açardı ve "
        "yağmur pencerelere vururken kitapları raflara geri koyardı "
        "birkaç öğrenci tarih ve bilim okumak için içeri girerdi "
        "kütüphaneci çoğunu adıyla tanırdı ailelerini ve işlerini "
        "sorardı rapor toplantı sırasında sunuldu ve kurul üyelerinin "
        "çoğu öneri lehine oy verdi çünkü sayılar bölgedeki durumun "
        "programın başlangıcından beri iyileştiğini gösteriyordu ve "
        "başkan projede yer alan herkese teşekkür etti"
    ),
}

# Non-Latin sample prose (same translated content) - NOT used for profile
# learning (the script ranges below decide these languages); kept for
# corpus generation (corpus.py multilingual family) and tests.
NONLATIN_SAMPLES: dict[str, str] = {
    "ru": (
        "быстрая коричневая лиса прыгает через ленивую собаку и каждое "
        "утро люди города собирались на рынке чтобы говорить о погоде о "
        "новостях и о цене хлеба которая росла много лет пока дети "
        "играли на улице а старики смотрели на них с тихой улыбкой "
        "вспоминая дни своей молодости"
    ),
    "el": (
        "η γρήγορη καφέ αλεπού πηδά πάνω από τον τεμπέλη σκύλο και κάθε "
        "πρωί οι άνθρωποι της πόλης μαζεύονταν στην αγορά για να "
        "μιλήσουν για τον καιρό τα νέα και την τιμή του ψωμιού που "
        "ανέβαινε εδώ και πολλά χρόνια ενώ τα παιδιά έπαιζαν στον δρόμο "
        "και οι γέροι τους κοιτούσαν με ένα ήσυχο χαμόγελο θυμούμενοι "
        "τις μέρες της δικής τους νιότης"
    ),
    "ar": (
        "الثعلب البني السريع يقفز فوق الكلب الكسول وفي كل صباح كان أهل "
        "المدينة يجتمعون في السوق ليتحدثوا عن الطقس والأخبار وسعر الخبز "
        "الذي ظل يرتفع لسنوات طويلة بينما كان الأطفال يلعبون في الشارع "
        "وكان الرجال الكبار ينظرون إليهم بابتسامة هادئة يتذكرون أيام "
        "شبابهم"
    ),
    "he": (
        "השועל החום המהיר קופץ מעל הכלב העצלן ובכל בוקר היו אנשי העיר "
        "מתאספים בשוק כדי לדבר על מזג האוויר על החדשות ועל מחיר הלחם "
        "שעלה במשך שנים רבות בזמן שהילדים שיחקו ברחוב והזקנים הביטו בהם "
        "בחיוך שקט ונזכרו בימי נעוריהם"
    ),
    "hi": (
        "तेज़ भूरी लोमड़ी आलसी कुत्ते के ऊपर कूदती है और हर सुबह शहर के "
        "लोग बाज़ार में इकट्ठा होते थे ताकि मौसम समाचार और रोटी की कीमत "
        "के बारे में बात कर सकें जो कई सालों से बढ़ रही थी जबकि बच्चे "
        "गली में खेलते थे और बूढ़े लोग उन्हें शांत मुस्कान के साथ देखते "
        "थे अपनी जवानी के दिन याद करते हुए"
    ),
    "zh": (
        "敏捷的棕色狐狸跳过懒惰的狗每天早晨城里的人们聚集在市场上谈论"
        "天气新闻和多年来不断上涨的面包价格孩子们在街上玩耍老人们带着"
        "安静的微笑看着他们回忆自己年轻时的日子"
    ),
    "ja": (
        "すばやい茶色の狐はなまけものの犬を飛びこえる毎朝町の人々は市"
        "場に集まり天気やニュースや何年も上がり続けるパンの値段につい"
        "て話していた子どもたちは通りで遊び老人たちは静かな笑顔で彼ら"
        "を見つめ自分の若い日々を思い出していた"
    ),
    "ko": (
        "빠른 갈색 여우가 게으른 개를 뛰어넘는다 매일 아침 마을 사람들은 시장에 모여 날씨와 소식과 여러 해 동안 "
        "오르고 있는 빵 값에 대해 이야기했다 아이들은 거리에서 놀았고 노인들은 조용한 미소로 그들을 바라보며 자신의 "
        "젊은 날들을 떠올렸다"
    ),
}


# script-range char classes (literal codepoint ranges work in Java regex
# AND RE2); each language here is the set's only user of its script
_SCRIPT_RANGES: dict[str, str] = {
    "ru": "а-яё",
    "el": "ά-ώ",
    "ar": "ء-ي",
    "he": "א-ת",
    "hi": "ऀ-ॿ",
    "ko": "가-힣",
    "ja": "ぁ-ゖァ-ヺー",   # kana only - see tier-3 note above
    "zh": "一-鿿",
}
_SCRIPT_WEIGHT = {"ja": 3}

# Latin diacritics unique to one language within the supported set
_MARKER_CHARS: dict[str, str] = {
    "sv": "å", "de": "ß", "es": "ñ", "pt": "ãõ", "it": "ìò",
    "pl": "ąęłńśźż", "tr": "ğış",
}
_MARKER_WEIGHT = 2  # in trigram-hit units

N_TRIGRAMS = 48  # per language; equal sizes keep raw counts comparable


def _tri_ok(t: str) -> bool:
    """A usable profile trigram: letters of ANY script (plus combining
    marks - Devanagari matras, Arabic points - and spaces), no digits or
    punctuation, not all-space, and SQL-literal safe."""
    import unicodedata

    if t == "   " or "'" in t:
        return False
    return all(
        c == " " or c.isalpha() or unicodedata.category(c) in ("Mn", "Mc")
        for c in t
    )


def _trigram_freqs(text: str) -> dict[str, float]:
    padded = f" {text} "
    counts: dict[str, int] = {}
    for i in range(len(padded) - 2):
        t = padded[i:i + 3]
        if _tri_ok(t):
            counts[t] = counts.get(t, 0) + 1
    total = max(sum(counts.values()), 1)
    return {t: n / total for t, n in counts.items()}


def _learn_trigrams(seeds: dict[str, str], k: int) -> dict[str, list[str]]:
    """Top-k trigrams per language by DISCRIMINATIVE score: own relative
    frequency minus the max across the other languages (a trigram common
    everywhere scores ~0 and is dropped).  Deterministic: ties break on
    the trigram itself."""
    freqs = {lang: _trigram_freqs(s) for lang, s in seeds.items()}
    out: dict[str, list[str]] = {}
    for lang, f in freqs.items():
        others = [freqs[o] for o in freqs if o != lang]
        scored = sorted(
            ((fv - max(o.get(t, 0.0) for o in others), t)
             for t, fv in f.items()),
            key=lambda st: (-st[0], st[1]))
        out[lang] = [t for _, t in scored[:k]]
    return out


LANG_TRIGRAMS: dict[str, list[str]] = _learn_trigrams(_LANG_SEEDS,
                                                      N_TRIGRAMS)
#: languages the classifier can emit (besides 'und'), in tie-priority order
LANGUAGES: list[str] = list(LANG_TRIGRAMS) + list(_SCRIPT_RANGES)
_LID_THRESHOLD3 = 6  # thirds-of-a-hit units: < 2 whole hits -> 'und'


# one sorted lookup table for the batch kernel below: every profile
# trigram that cannot overlap itself, as a 3x21-bit code (every codepoint
# fits in 21 bits), and every marker character, as a unigram code whose top
# field is 0x1FFFFF -- above the largest codepoint 0x10FFFF, so no window of
# text can produce it.  The self-overlapping trigrams (t[0] == t[2]) keep
# their own count_substring pass.
_UNIGRAM_TAG = 0x1FFFFF << 42


def _lid_table() -> tuple:
    """(sorted codes, language index per code, weight per code, the
    self-overlapping trigrams as (trigram, language index) pairs)."""
    ix = {lang: i for i, lang in enumerate(LANGUAGES)}
    entries, overlapping = [], []
    for lang, tris in LANG_TRIGRAMS.items():
        for t in tris:
            if t[0] == t[2]:
                overlapping.append((t, ix[lang]))
            else:
                a, b, c = map(ord, t)
                entries.append(((a << 42) | (b << 21) | c, ix[lang], len(t)))
        for c in _MARKER_CHARS.get(lang, ""):
            entries.append((_UNIGRAM_TAG | ord(c), ix[lang], 3 * _MARKER_WEIGHT))
    entries.sort()
    codes, langs, weights = (np.array(col, dtype=np.int64)
                             for col in zip(*entries))
    assert len(np.unique(codes)) == len(codes)
    return codes, langs, weights, overlapping


_LID_TABLE = _lid_table()


def _lid_guess_frame(padded: pd.Series) -> pd.Series:
    """The classifier's scoring over one Arrow batch.

    Every row's trigram and marker hits come from one flat codepoint array
    for the whole batch: the padded texts joined with ``"\\x00"`` and
    encoded as UTF-32.  Each position yields a 3x21-bit trigram code and a
    tagged unigram code; one ``searchsorted`` into the sorted table
    (:func:`_lid_table`) finds the hits, and one ``bincount`` adds their
    weights per (row, language).  Extra memory is linear in the batch's
    character count: about 50 bytes per character at peak (the int64 code
    array for both code kinds, its lookup indices and their gathered table
    codes, 16 bytes per character each).

    Exactness argument, term by term (the guess must match the oracle,
    :func:`language_guess_sql`, bit-for-bit — ties and the >= 6 threshold
    are live on real data):

    * the oracle counts a literal as ``(length(p) -
      length(replace(p, t, ''))) / len(t)``: NON-overlapping left-to-right
      occurrences.  A 3-character pattern can overlap itself only if
      ``t[0] == t[2]``; for every other pattern the number of overlapping
      windows equals the non-overlapping count, so the table counts
      windows.  The self-overlapping trigrams (``'ana'``, ``'t t'``,
      ``' y '``, ...) keep ``pc.count_substring``, which counts
      non-overlapping occurrences exactly like replace (verified
      'aaaa'/'aa' -> 2 on both);
    * no profile trigram or marker contains ``"\\x00"``, so no window that
      spans two rows matches; unigram codes carry a top field no codepoint
      reaches, so no window of text (embedded ``"\\x00"`` included) can
      read as a marker;
    * UTF-8 is self-synchronizing: a valid UTF-8 literal matches only at
      codepoint boundaries, so matching codepoints counts what matching
      the oracle's UTF-8 bytes counts;
    * trigram/marker contributions are integer ``count * len(t)`` /
      ``count * 3 * weight``; ``bincount`` sums them in float64, exact far
      below 2**53, and the scores return to int64;
    * script scores use ``pc.count_substring_regex('[<ranges>]')`` — each
      match is a single char, so the count equals the oracle's
      ``length - length(regexp_replace(p, '[cls]', '', 'g'))`` (both
      engines run RE2 on the same literal codepoint ranges);
    * lowering/padding stays in the JVM (the caller passes
      ``' ' || lower(text) || ' '``), so JVM-vs-Python case-mapping
      differences cannot arise; the oracle lowers in DuckDB, and the two
      agree on the upper-case rows tests/test_langid.py pins;
    * NULL text -> NULL padded -> scored as '' here -> best=0 < threshold
      -> 'und', identical to the oracle's NULL-condition fall-through to
      its ``ELSE 'und'`` branch.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    table, table_lang, table_weight, overlapping = _LID_TABLE

    texts = padded.fillna("")
    n, n_lang = len(texts), len(LANGUAGES)
    # row r's codepoints start at starts[r] of the joined array
    lens = np.fromiter(map(len, texts), dtype=np.int64, count=n)
    starts = np.cumsum(lens + 1) - (lens + 1)
    cps = np.frombuffer("\x00".join(texts).encode("utf-32-le"),
                        dtype=np.uint32).astype(np.int64)
    m = len(cps)
    codes = np.concatenate((
        cps | _UNIGRAM_TAG,
        (cps[:-2] << 42) | (cps[1:-1] << 21) | cps[2:],
    ))
    del cps
    idx = np.searchsorted(table, codes)
    np.minimum(idx, len(table) - 1, out=idx)
    hit = np.flatnonzero(table[idx] == codes)
    del codes
    ent = idx[hit]
    row = np.searchsorted(starts, np.where(hit < m, hit, hit - m),
                          side="right") - 1
    scores = np.bincount(row * n_lang + table_lang[ent],
                         weights=table_weight[ent], minlength=n * n_lang)
    scores = scores.astype(np.int64).reshape(n, n_lang)

    # large_string: 64-bit offsets — a plain pa.string() caps one batch's
    # total text at 2 GiB
    arr = pa.array(texts, type=pa.large_string())

    def counts(pattern: str, regex: bool = False) -> "np.ndarray":
        fn = pc.count_substring_regex if regex else pc.count_substring
        return fn(arr, pattern=pattern).to_numpy(
            zero_copy_only=False).astype(np.int64)

    for t, li in overlapping:
        scores[:, li] += counts(t) * len(t)
    for lang, cls in _SCRIPT_RANGES.items():
        scores[:, LANGUAGES.index(lang)] = counts(f"[{cls}]", regex=True) * (
            3 * _SCRIPT_WEIGHT.get(lang, 1))

    best = scores.max(axis=1, initial=0)
    # first language in LANGUAGES order with score == best wins (same tie
    # priority as the oracle's first-match CASE)
    guess = np.array(LANGUAGES, dtype=object)[
        np.argmax(scores == best[:, None], axis=1)]
    guess = np.where(best >= _LID_THRESHOLD3, guess, "und")
    return pd.Series(guess, dtype=object)


def with_language_guess(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID via the Arrow-vectorized kernel (round-7, guide §4.2).

    An all-JVM expression form evaluates ~500 ``length(replace(p, t,
    ''))`` terms per row, each a full scan PLUS an allocation of the
    replaced string — measured 16 s for q29 at sf0.1.  This form ships the
    padded-lowered text across the Arrow boundary once and scores it with
    :func:`_lid_guess_frame`: 16.1 s -> ~2 s.  Scan-side, zero shuffle, no
    per-row Python.  Guess values are bit-identical to the DuckDB oracle
    :func:`language_guess_sql` (pinned in tests/test_langid.py)."""
    # pandas_column ships the package first: a session that never ran an
    # extraction has no package on its workers (q29/q59 crashed there)
    from ..shipping import pandas_column

    guess = pandas_column(docs.sparkSession, _lid_guess_frame, "string")
    padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    return docs.withColumn("lang_guess", guess(padded))


def language_guess_sql(table: str = "documents") -> str:
    def occ_len(lit: str) -> str:
        return f"(length(p) - length(replace(p, '{lit}', '')))"

    s_exprs: dict[str, str] = {}
    for lang, tris in LANG_TRIGRAMS.items():
        terms = [occ_len(t) for t in tris]
        terms += [f"{3 * _MARKER_WEIGHT}*{occ_len(c)}"
                  for c in _MARKER_CHARS.get(lang, "")]
        s_exprs[lang] = " + ".join(terms)
    for lang, cls in _SCRIPT_RANGES.items():
        w = 3 * _SCRIPT_WEIGHT.get(lang, 1)
        s_exprs[lang] = (f"{w}*(length(p) - "
                         f"length(regexp_replace(p, '[{cls}]', '', 'g')))")

    cases = []
    for lang in s_exprs:  # first match wins => tie-priority order
        cases.append(
            f"WHEN s_{lang} = best AND best >= {_LID_THRESHOLD3} "
            f"THEN '{lang}'")
    score_cols = ",\n             ".join(
        f"({e}) AS s_{lang}" for lang, e in s_exprs.items()
    )
    s_list = ", ".join(f"s_{lang}" for lang in s_exprs)
    return f"""
    SELECT doc_id, CASE {' '.join(cases)} ELSE 'und' END AS lang_guess
    FROM (
      SELECT doc_id, greatest({s_list}) AS best, {s_list}
      FROM (
        SELECT doc_id,
             {score_cols}
        FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM {table}) t0
      ) t1
    ) t2
    """


_ALPHA_SPACE = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ "


def with_quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality score in [0, 1]: length band, stopword ratio,
    alpha ratio, mean word length band — the standard pre-training filters
    (C4/Gopher-style rules) as one codegen'd expression.

    The alpha count is ``length - length(translate(t, [a-zA-Z ], ''))``
    rather than ``length(regexp_replace(t, '[^a-zA-Z ]', ''))`` — translate
    is a single table-lookup pass where the regex walks its automaton per
    char (guide §1.2 step 2: per-task work).  Value-identical: both count
    exactly the characters in the 53-char class; the oracle SQL keeps the
    regexp spelling (DuckDB-side cost is not the optimization target).
    SQL text, parsed JVM-side in one call (the Column API spelling cost
    317 py4j calls per build); ``D`` keeps each literal a DOUBLE.
    """
    t = quoted(text_col)
    n_chars = f"length({t})"
    n_words = f"size(split({t}, ' '))"
    stop = (f"size(filter(split({t}, ' '), "
            "w -> lower(w) IN ('the', 'a', 'of', 'and', 'to')))")
    alpha = f"({n_chars} - length(translate({t}, '{_ALPHA_SPACE}', '')))"
    mean_wlen = f"(({n_chars} - {n_words} + 1) / greatest({n_words}, 1))"
    score = F.expr(" + ".join(
        f"CASE WHEN {cond} THEN 0.25D ELSE 0.0D END" for cond in (
            f"{n_chars} >= 50 AND {n_chars} <= 10000",
            f"({stop} / greatest({n_words}, 1)) >= 0.01D",
            f"({alpha} / greatest({n_chars}, 1)) >= 0.8D",
            f"{mean_wlen} >= 3 AND {mean_wlen} <= 12",
        )))
    return docs.withColumn("quality", score)


def quality_score_sql(table: str = "documents") -> str:
    return f"""
    SELECT doc_id,
      (CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 0.25 ELSE 0.0 END)
    + (CASE WHEN CAST(len(list_filter(string_split(text,' '),
              w -> lower(w) IN ('the','a','of','and','to'))) AS DOUBLE)
            / greatest(len(string_split(text,' ')), 1) >= 0.01 THEN 0.25 ELSE 0.0 END)
    + (CASE WHEN CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
            / greatest(length(text), 1) >= 0.8 THEN 0.25 ELSE 0.0 END)
    + (CASE WHEN CAST(length(text) - len(string_split(text,' ')) + 1 AS DOUBLE)
            / greatest(len(string_split(text,' ')), 1) BETWEEN 3 AND 12
       THEN 0.25 ELSE 0.0 END) AS quality
    FROM {table}
    """


def with_token_counts(docs: DataFrame, text_col: str = "text",
                      tokenizer: str = "whitespace",
                      merges: list | None = None) -> DataFrame:
    """Whitespace tokens + subword-piece count (word-boundary pieces:
    runs of letters, digits, or single punctuation — the deterministic
    proxy for tokenizer load planning).  ``tokenizer='bpe'`` ADDS a
    ``bpe_tokens`` column: real greedy-merge subword counts from
    :mod:`..functions.bpe` (Arrow-batched kernel, pytest-pinned ==
    the local implementation; not DuckDB-expressible, so q31 registers
    the whitespace mode).  ``merges`` selects the BPE table: None =
    frozen seed default; pass a corpus-learned table from
    ``functions.bpe.load_merge_table`` for corpus-calibrated counts."""
    t = F.col(text_col)
    # NULL text has no count, as DuckDB's len(NULL); bare size() gives -1
    # for it when ANSI is off (spark.sql.legacy.sizeOfNull)
    ws_tokens = F.when(t.isNotNull(), F.size(F.split(F.trim(t), r"\s+")))
    # RE2-compatible (no lookarounds) so the DuckDB oracle is exact
    pieces = F.when(t.isNotNull(), F.size(F.expr(
        rf"regexp_extract_all({text_col}, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]', 0)")))
    out = docs.withColumn("ws_tokens", ws_tokens).withColumn(
        "subword_pieces", pieces)
    if tokenizer == "bpe":
        from ..functions.bpe import token_count_col

        out = out.withColumn(
            "bpe_tokens", token_count_col(text_col, "bpe", merges))
    elif tokenizer != "whitespace":
        raise ValueError(f"unknown tokenizer {tokenizer!r}")
    return out


def token_counts_sql(table: str = "documents") -> str:
    return f"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS subword_pieces
    FROM {table}
    """


def with_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """48-bit content fingerprint of the whitespace-normalized lowercase
    text (rolling-hash stand-in; md5-derived for the cross-engine oracle)."""
    fp = h48(f"lower(regexp_replace({text_col}, '\\\\s+', ' '))")
    return docs.withColumn("fingerprint", fp)
