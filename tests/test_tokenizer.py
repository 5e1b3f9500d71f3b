"""Tokenizer goldens per FIXTURES.md §1 edge cases and the reference
validity rules (EnglishTokeniser.java:61-74,155-181)."""

from terrier_spark.config import PipelineConfig
from terrier_spark.text.tokenizer import check_term, tokenize


def test_basic_split_and_lowercase():
    assert tokenize("Hello, World_X a.b-c") == ["hello", "world", "x", "a", "b", "c"]


def test_long_token_dropped_not_truncated():
    tok21 = "a" * 2 + "bcdefghij" * 2 + "k"  # 21 chars, no 4-conseq
    assert len(tok21) == 21
    assert tokenize(f"start {tok21} end") == ["start", "end"]
    tok20 = "abcdefghij" * 2
    assert tokenize(tok20) == [tok20]


def test_digit_rules():
    assert tokenize("x123456") == []          # 6 digits -> dropped
    assert tokenize("x12345") == []           # 5 digits -> dropped
    assert tokenize("x1234") == ["x1234"]     # exactly 4 -> kept
    assert tokenize("a1b2c3d4") == ["a1b2c3d4"]
    assert tokenize("a1b2c3d4e5") == []
    two = PipelineConfig(max_digits=2)
    assert tokenize("x1234 y12 z123", two) == ["y12"]
    assert check_term("a1b2", two) == "a1b2"
    assert check_term("a1b2c3", two) == ""


def test_consecutive_identical_chars():
    assert tokenize("aaaab") == []            # 4 consecutive -> dropped
    assert tokenize("aaab") == ["aaab"]       # exactly 3 -> kept
    assert tokenize("xaaaa") == []
    assert tokenize("1111") == []
    assert tokenize("111") == ["111"]
    five = PipelineConfig(max_conseq=5)
    assert tokenize("aaaab aaaaab aaaaaab", five) == ["aaaab", "aaaaab"]
    assert check_term("111111", five) == ""


def test_conseq_check_is_case_sensitive_pre_lowercase():
    # 'AAAa' = 3 x 'A' then 'a': raw comparison resets -> valid, then
    # lowercased to 'aaaa' (EnglishTokeniser.check runs before toLowerCase)
    assert tokenize("AAAa") == ["aaaa"]
    assert tokenize("AAAA") == []


def test_empty_and_stopword_free():
    assert tokenize("") == []
    assert tokenize("!!! ... ---") == []


def test_check_term():
    assert check_term("Simple") == "simple"
    assert check_term("x" * 21) == ""
    assert check_term("12345") == ""
    assert check_term("bbbb") == ""


def test_no_lowercase_config():
    cfg = PipelineConfig(lowercase=False)
    assert tokenize("MixedCase", cfg) == ["MixedCase"]


def test_utf_twitter_tokeniser():
    """UTFTwitterTokeniser.java: letters/digits + combining marks + '/'
    and '@' are token chars; same validity check + lowercasing."""
    from terrier_spark.config import PipelineConfig
    from terrier_spark.text.tokenizer import tokenize

    tw = PipelineConfig(tokeniser="utf_twitter")
    # mentions survive; URL paths keep '/' but '.' still splits
    assert tokenize("RT @UserOne: see http://t.co/abc now", tw) == [
        "rt", "@userone", "see", "http", "//t", "co/abc", "now"
    ]
    # underscore is NOT a token char in Java isLetterOrDigit -> splits
    assert tokenize("@user_name", tw) == ["@user", "name"]
    # hashtags: '#' is not a token char (the reference keeps only / and @)
    assert tokenize("#Breaking news", tw) == ["breaking", "news"]
    # validity rules still apply (long tokens dropped, digit cap)
    assert tokenize("@" + "a" * 30 + " 12345", tw) == []
    # UTF letters kept
    assert tokenize("café @münchen", tw) == ["café", "@münchen"]


def test_utf_tokeniser_combining_marks():
    """Decomposed accents (base letter + Mn mark) stay inside the token,
    matching Character.getType == NON_SPACING_MARK in UTFTokeniser."""
    from terrier_spark.config import PipelineConfig
    from terrier_spark.text.tokenizer import tokenize

    utf = PipelineConfig(tokeniser="utf")
    decomposed = "café"          # e + combining acute
    assert tokenize(decomposed, utf) == [decomposed.lower()]
    tw = PipelineConfig(tokeniser="utf_twitter")
    assert tokenize("@" + decomposed, tw) == ["@" + decomposed]
