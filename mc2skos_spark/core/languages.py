"""ISO 639-2/B (bibliographic) → ISO 639-1 language-code mapping.

The reference resolves the 040 $b code with the ``iso639`` package
(/root/reference/mc2skos/record.py:157-159:
``languages.get(part2b=lang).part1``, default ``eng`` → ``en``).  That
package is not installable offline, so the standard table (public ISO 639
data) is embedded here.  Only codes that *have* a 639-1 equivalent are
listed; looking up anything else raises :class:`KeyError`, which callers
convert to a quarantine row (the reference would crash — we degrade
gracefully but record the reason).
"""

from __future__ import annotations

# ISO 639-2/B → ISO 639-1.  Where the bibliographic (B) code differs from
# the terminological (T) code, both are listed (the reference's lookup is
# keyed strictly on part2b, but accepting the T alias costs nothing and
# loses nothing: T codes never collide with other B codes).
ISO639_2B_TO_1 = {
    "aar": "aa", "abk": "ab", "afr": "af", "aka": "ak", "alb": "sq",
    "sqi": "sq", "amh": "am", "ara": "ar", "arg": "an", "arm": "hy",
    "hye": "hy", "asm": "as", "ava": "av", "ave": "ae", "aym": "ay",
    "aze": "az", "bak": "ba", "bam": "bm", "baq": "eu", "eus": "eu",
    "bel": "be", "ben": "bn", "bih": "bh", "bis": "bi", "bod": "bo",
    "bos": "bs", "bre": "br", "bul": "bg", "bur": "my", "mya": "my",
    "cat": "ca", "ces": "cs", "cha": "ch", "che": "ce", "chi": "zh",
    "zho": "zh", "chu": "cu", "chv": "cv", "cor": "kw", "cos": "co",
    "cre": "cr", "cym": "cy", "cze": "cs", "dan": "da", "deu": "de",
    "div": "dv", "dut": "nl", "nld": "nl", "dzo": "dz", "ell": "el",
    "eng": "en", "epo": "eo", "est": "et", "ewe": "ee", "fao": "fo",
    "fas": "fa", "fij": "fj", "fin": "fi", "fra": "fr", "fre": "fr",
    "fry": "fy", "ful": "ff", "geo": "ka", "kat": "ka", "ger": "de",
    "gla": "gd", "gle": "ga", "glg": "gl", "glv": "gv", "gre": "el",
    "grn": "gn", "guj": "gu", "hat": "ht", "hau": "ha", "heb": "he",
    "her": "hz", "hin": "hi", "hmo": "ho", "hrv": "hr", "hun": "hu",
    "ibo": "ig", "ice": "is", "isl": "is", "ido": "io", "iii": "ii",
    "iku": "iu", "ile": "ie", "ina": "ia", "ind": "id", "ipk": "ik",
    "ita": "it", "jav": "jv", "jpn": "ja", "kal": "kl", "kan": "kn",
    "kas": "ks", "kau": "kr", "kaz": "kk", "khm": "km", "kik": "ki",
    "kin": "rw", "kir": "ky", "kom": "kv", "kon": "kg", "kor": "ko",
    "kua": "kj", "kur": "ku", "lao": "lo", "lat": "la", "lav": "lv",
    "lim": "li", "lin": "ln", "lit": "lt", "ltz": "lb", "lub": "lu",
    "lug": "lg", "mac": "mk", "mkd": "mk", "mah": "mh", "mal": "ml",
    "mao": "mi", "mri": "mi", "mar": "mr", "may": "ms", "msa": "ms",
    "mlg": "mg", "mlt": "mt", "mon": "mn", "nau": "na", "nav": "nv",
    "nbl": "nr", "nde": "nd", "ndo": "ng", "nep": "ne", "nno": "nn",
    "nob": "nb", "nor": "no", "nya": "ny", "oci": "oc", "oji": "oj",
    "ori": "or", "orm": "om", "oss": "os", "pan": "pa", "per": "fa",
    "pli": "pi", "pol": "pl", "por": "pt", "pus": "ps", "que": "qu",
    "roh": "rm", "ron": "ro", "rum": "ro", "run": "rn", "rus": "ru",
    "sag": "sg", "san": "sa", "sin": "si", "slk": "sk", "slo": "sk",
    "slv": "sl", "sme": "se", "smo": "sm", "sna": "sn", "snd": "sd",
    "som": "so", "sot": "st", "spa": "es", "srd": "sc", "srp": "sr",
    "ssw": "ss", "sun": "su", "swa": "sw", "swe": "sv", "tah": "ty",
    "tam": "ta", "tat": "tt", "tel": "te", "tgk": "tg", "tgl": "tl",
    "tha": "th", "tib": "bo", "tir": "ti", "ton": "to", "tsn": "tn",
    "tso": "ts", "tuk": "tk", "tur": "tr", "twi": "tw", "uig": "ug",
    "ukr": "uk", "urd": "ur", "uzb": "uz", "ven": "ve", "vie": "vi",
    "vol": "vo", "wel": "cy", "wln": "wa", "wol": "wo", "xho": "xh",
    "yid": "yi", "yor": "yo", "zha": "za", "zul": "zu",
}
