"""Unit battery for the harness request model (round 5): the
combineMultiArgs accumulator, catch-clause matching, and the echo
endpoint renderer. The end-to-end behavior is pinned by the reference
goldens (post*/headers/multipart*/multipageTry*); these tests guard the
primitives against refactors without spinning Spark."""

from pathlib import Path

import pytest

from xidel_spark.harness.echo import BOUNDARY, HttpError, multipart_body, simulate_fetch
from xidel_spark.harness.sim import Sim, _close_multi, _combine_multi

REF = Path("/root/reference")


def test_combine_multi_post7_post8_sequences():
    # post7: -d "user=login" then -d "&pass=password" inside [ ]
    acc = _combine_multi(None, "user=login", "&")
    assert acc == "user=login&"  # open accumulator keeps trailing sep
    assert _combine_multi(acc, "&pass=password", "&") == "user=login&pass=password&"
    # second bracket: open outer value joins a non-&-prefixed arg
    assert _combine_multi("user=login&", "a=b", "&") == "user=login&a=b&"
    # post8: empty value clears; a CLOSED accumulator is replaced
    assert _combine_multi("a=1&", "", "&") == ""
    assert _combine_multi("", "b=2", "&") == "b=2&"
    assert _combine_multi("a=1&d=4", "e=5", "&") == "e=5&"  # closed → replace
    assert _close_multi("x=1&", "&") == "x=1"
    assert _close_multi(None, "&") == ""


def test_catch_matching_matrix():
    m = Sim._catch_matches
    # multipageTry (err:FORG0001)
    assert m("err:FORG0001", "err", "FORG0001")
    assert m("x y z err:FORG0001", "err", "FORG0001")
    assert not m("", "err", "FORG0001")
    assert m("*:FORG0001", "err", "FORG0001")
    assert not m("pxp:FORG0001", "err", "FORG0001")
    assert m("*", "err", "FORG0001")
    assert not m("foo bar", "err", "FORG0001")
    assert m("*:*", "err", "FORG0001")
    assert not m("FORG0001", "err", "FORG0001")  # bare name = no-namespace
    assert m("err:*", "err", "FORG0001")
    assert m(None, "err", "FORG0001")  # no errors attr = catch-all
    # multipageTryHttp (http 404)
    assert m("http", "http", "404")
    assert not m("http300", "http", "404") and m("http404", "http", "404")
    assert not m("http:300", "http", "404") and m("http:404", "http", "404")
    assert not m("http:3*", "http", "404") and m("http:4*", "http", "404")
    assert not m("http:3xx", "http", "404") and m("http:4xx", "http", "404")
    assert not m("http:44*", "http", "404") and m("http:*", "http", "404")
    assert not m("err:*", "http", "404") and m("pxp:*", "http", "404")


@pytest.mark.needs_reference
def test_echo_php_and_multipart_bytes():
    php = simulate_fetch({"url": "https://videlibri.sourceforge.net/xidelecho.php",
                          "method": "POST", "post": "123"}, REF)
    assert php == "<xml>\n<meth>POST</meth>\n<raw>123</raw>\n</xml>\n"
    body = multipart_body(["a=b"], REF)
    assert body == ("\n--" + BOUNDARY + "\n"
                    'Content-Disposition: form-data; name="a"\n\nb\n'
                    "--" + BOUNDARY + "--\n")
    # @file upload embeds filename + file bytes (tests/output/post1a = 'POST\n')
    body2 = multipart_body(["f=@tests/output/post1a;type=foo/bar"], REF)
    assert 'filename="tests/output/post1a"' in body2
    assert "Content-Type: foo/bar\n\nPOST\n\n" in body2


def test_echo_http_errors_and_unknown_hosts():
    import pytest

    with pytest.raises(HttpError) as e:
        simulate_fetch({"url": "https://example.org/invalid", "method": "GET"}, REF)
    assert e.value.status == 404
    assert simulate_fetch({"url": "http://unknown.example.net/x",
                           "method": "GET"}, REF) is None
