"""CJK multibyte charset recognizer tests (C7 widening —
CharsetRecog_mbcs family semantics)."""

import pytest

from tika_spark.charset import detect_statistical

JP = "データ処理は高速で、スパークの分散処理が有効です。今日は良い天気。"
KR = "스파크 분산 처리 시스템은 매우 빠르게 동작합니다. 오늘 날씨가 좋다."
ZH_S = "火花分布式处理系统运行速度非常快。今天这个天气很好。我们说数据批处理窗口还可以。"
ZH_T = "火花分散式處理系統運行速度非常快。今天這個天氣很好。我們說資料批次處理視窗還可以。"


@pytest.mark.parametrize("codec,text", [
    ("shift_jis", JP), ("euc_jp", JP), ("cp949", KR),
    ("gb18030", ZH_S), ("big5", ZH_T),
])
def test_cjk_detection(codec, text):
    assert detect_statistical(text.encode(codec)) == codec


def test_cjk_utf8_still_wins():
    assert detect_statistical(JP.encode("utf-8")) == "utf-8"
    assert detect_statistical(ZH_S.encode("utf-8")) == "utf-8"


def test_iso2022_jp_escape():
    assert detect_statistical(JP.encode("iso2022_jp")) == "iso2022_jp"


def test_no_cyrillic_regression():
    ru = "привет мир как дела сегодня хорошо"
    assert detect_statistical(ru.encode("koi8-r")) == "koi8-r"
    assert detect_statistical(ru.encode("cp866")) == "cp866"


def test_declared_hint_still_applies():
    # ambiguous short latin-1 bytes: declared hint must win
    raw = "café au lait".encode("iso-8859-1")
    assert detect_statistical(raw, declared="iso-8859-1") == "iso-8859-1"


class TestSbcsNgram:
    """Per-language single-byte recognizers (CharsetRecog_sbcs analog):
    detection must pick a charset that decodes to the true text."""

    CASES = [
        ("windows-1251", "Современные технологии обработки данных "
                         "развиваются быстро и меняют нашу жизнь"),
        ("iso-8859-5", "Современные технологии обработки данных "
                       "развиваются быстро"),
        ("iso-8859-7", "Η επεξεργασία φυσικής γλώσσας είναι σημαντικός "
                       "τομέας της επιστήμης των υπολογιστών"),
        ("iso-8859-2", "Przetwarzanie języka naturalnego jest ważną "
                       "dziedziną współczesnej informatyki"),
    ]

    def test_text_equal_after_roundtrip(self):
        from tika_spark.charset import decode, detect_statistical
        for codec, text in self.CASES:
            raw = text.encode(codec, "ignore")
            got = detect_statistical(raw)
            assert decode(raw, got) == decode(raw, codec), (codec, got)

    def test_thai(self):
        from tika_spark.charset import detect_statistical
        from tika_spark.language.corpus import SEED_TEXT
        raw = SEED_TEXT["th"][:200].encode("tis-620", "ignore")
        assert detect_statistical(raw) == "tis-620"

    def test_exact_cyrillic_layouts(self):
        from tika_spark.charset import detect_statistical
        t = "проверка различных кириллических кодировок в документе"
        assert detect_statistical(t.encode("windows-1251")) == \
            "windows-1251"
        assert detect_statistical(t.encode("koi8-r")) == "koi8-r"
        assert detect_statistical(t.encode("cp866")) == "cp866"


class TestWidenedSbcs:
    """VERDICT r1 task 7: Arabic/Hebrew/Turkish single-byte layouts and
    Hebrew EBCDIC (CharsetRecog_sbcs.java / IBM424 parity)."""

    import pytest as _pytest

    CASES = [("windows-1256", "ar"), ("iso-8859-6", "ar"),
             ("windows-1255", "he"), ("windows-1254", "tr"),
             ("tis-620", "th"), ("cp424", "he"), ("cp420", "ar")]

    @_pytest.mark.parametrize("codec,lang", CASES,
                              ids=[c for c, _ in CASES])
    def test_exact_detection(self, codec, lang):
        from tika_spark.language.corpus import SEED_TEXT
        raw = SEED_TEXT[lang].encode(codec, "ignore")
        assert detect_statistical(raw) == codec

    def test_equivalent_layouts_decode_identically(self):
        # iso-8859-8/9 share the letter positions of windows-1255/1254;
        # either answer decodes the text identically
        from tika_spark.language.corpus import SEED_TEXT
        for codec, lang in (("iso-8859-8", "he"), ("iso-8859-9", "tr")):
            raw = SEED_TEXT[lang].encode(codec, "ignore")
            got = detect_statistical(raw)
            assert raw.decode(got) == raw.decode(codec)

    def test_cp424_trained_bigrams_on_held_out_text(self):
        # not seed text: the trained EBCDIC bigram model must carry
        # to unseen Hebrew, and plain-English EBCDIC (cp500) must
        # NOT be pulled toward cp424
        he = ("שלום לכם קוראים יקרים זהו מסמך בדיקה חדש לגמרי "
              "ובו מילים רבות שלא הופיעו בקורפוס האימון כלל "
              "והמערכת צריכה לזהות את הקידוד בכל זאת") * 3
        raw = he.encode("cp424", "ignore")
        assert detect_statistical(raw) == "cp424"
        en = ("plain english ebcdic document with ordinary words "
              "that should resolve to the generic ebcdic layout ") * 5
        assert detect_statistical(en.encode("cp500")) == "cp500"

    def test_ebcdic_scores_compete_with_declared_hint(self):
        # an EBCDIC-script hit joins the shared score table: the
        # declared-charset bonus and the cp500 score compete with it
        he = ("שלום לכם קוראים יקרים זהו מסמך בדיקה חדש לגמרי "
              "ובו מילים רבות שלא הופיעו בקורפוס האימון כלל "
              "והמערכת צריכה לזהות את הקידוד בכל זאת") * 3
        raw = he.encode("cp424", "ignore")
        assert detect_statistical(raw) == "cp424"
        assert detect_statistical(raw, declared="cp500") == "cp500"
        en = ("plain english ebcdic document with ordinary words "
              "that should resolve to the generic ebcdic layout ") * 5
        assert detect_statistical(en.encode("cp500")) == "cp500"

    def test_cp420_codec_tables_and_held_out_text(self):
        # round-5 gap close (VERDICT r4 task 7): the JDK-dumped CDRA
        # code page 420 tables give Python a real cp420 codec — exact
        # roundtrip through the charmap, EBCDIC shape (space 0x40),
        # and detection carries to unseen Arabic text
        import tika_spark.charset_cp420 as t
        assert len(t.DECODE_TABLE) == 256
        assert t.DECODE_TABLE[0x40] == " "
        assert " ".encode("cp420") == b"\x40"
        ar = ("هذه وثيقة اختبار جديدة تماما تحتوي على كلمات كثيرة "
              "لم تظهر في نصوص التدريب والنظام يجب ان يتعرف على "
              "الترميز رغم ذلك بدون اي مساعدة خارجية") * 3
        raw = ar.encode("cp420", "ignore")
        assert len(raw) > 100            # encode map covers the text
        assert detect_statistical(raw) == "cp420"
        # decode is total over the table's mapped bytes
        assert raw.decode("cp420")
        en = ("plain english ebcdic document with ordinary words "
              "that should resolve to the generic ebcdic layout ") * 5
        assert detect_statistical(en.encode("cp500")) == "cp500"

    def test_profile_languages_unchanged(self):
        # ar/he/tr seed charset tables only — the 3-gram language model
        # keeps the reference's 27-profile set
        from tika_spark.language.corpus import PROFILE_LANGUAGES
        assert len(PROFILE_LANGUAGES) == 27
        assert not {"ar", "he", "tr", "zh"} & set(PROFILE_LANGUAGES)


def test_iso2022_cn_and_kr_escapes():
    """CN designations (GB2312 / CNS 11643) are named iso-2022-cn,
    not mislabeled as JP; KR keeps its own name."""
    from tika_spark.charset import decode, detect_statistical
    cn = b"Hello \x1b$)A\x0e;;<a\x0f world"
    assert detect_statistical(cn) == "iso-2022-cn"
    assert detect_statistical(b"x\x1b$*Hyz") == "iso-2022-cn"
    kr = "안녕하세요".encode("iso2022_kr")
    assert detect_statistical(kr) == "iso2022_kr"
    assert decode(kr, "iso2022_kr") == "안녕하세요"


def test_iso2022_cn_decodes_gb2312_runs():
    """Round-3: the RFC 1922 state decoder turns SO-shifted GB2312
    pairs into the real characters (previously the cp1252 fallback
    garbled every shifted run)."""
    from tika_spark.charset import decode
    # "hello 中文 world": 中 = GB 0x563p pair (EUC D6D0 -> 7-bit 'VP'),
    # 文 = EUC CEC4 -> 7-bit 'ND'
    cn = b"hello \x1b$)A\x0eVPND\x0f world"
    assert decode(cn, "iso-2022-cn") == "hello 中文 world"
    # CNS plane-1 designation: structure honored, chars degrade to
    # U+FFFD (no stdlib CNS codec), ASCII runs intact
    cns = b"a\x1b$)G\x0e!!\x0fb"
    out = decode(cns, "iso-2022-cn")
    assert out.startswith("a") and out.endswith("b") and "�" in out
    # SS2 single-shift consumes its pair
    assert decode(b"p\x1b$*H\x1bN!!q", "iso-2022-cn") == "p�q"
    # unknown escape does not derail the scan
    assert decode(b"x\x1b(Zy", "iso-2022-cn").endswith("y")


def test_latin_family_statistical():
    """CharsetRecog_sbcs 8859-1/8859-2 family: sparse-accent western
    text pins its charset from accent-adjacent bigrams (no density
    floor). Ambiguous byte-compatible pairs resolve deterministically
    to the first-registered codec (iso- before windows-)."""
    from tika_spark.charset import detect_statistical
    from tika_spark.language.corpus import SEED_TEXT
    for codec, lang in [("iso-8859-1", "fr"), ("iso-8859-1", "de"),
                        ("iso-8859-1", "es"), ("iso-8859-1", "pt"),
                        ("iso-8859-1", "da"), ("iso-8859-1", "sv"),
                        ("iso-8859-2", "pl")]:
        raw = ("<html><head><title>T</title></head><body><p>"
               + SEED_TEXT[lang] + "</p></body></html>").encode(
                   codec, "ignore")
        assert detect_statistical(raw) == codec, (codec, lang)


def test_czech_romanian_8859_2():
    """CharsetRecog_8859_2_cs / _ro parity: Czech and Romanian
    high-byte bigrams recognize the central-European layout."""
    from tika_spark.language.corpus import SEED_TEXT
    for lang in ("cs", "ro"):
        sample = SEED_TEXT[lang][:600]
        got = detect_statistical(sample.encode("iso-8859-2", "ignore"))
        assert got in ("iso-8859-2", "windows-1250"), (lang, got)
