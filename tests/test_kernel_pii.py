"""PII kernel vs the reference's own test vectors.

Expected values come from the reference test suite
(`/root/reference/tests/test_classifiers/test_pii.py`) — each case cites
the line it mirrors.
"""

from localmod_spark.kernel.pii import (
    _ip_ok,
    _luhn_ok,
    _ssn_ok,
    pii_result_from,
    pii_scan,
    pii_scrub,
)


def pii_result(text):
    """The verdict the kernel gives: one scan, then the verdict from it."""
    return pii_result_from(text, pii_scan(text))


def test_email_detected():  # test_pii.py:20
    r = pii_result("Contact me at john.doe@example.com for details.")
    assert r.flagged and "email" in r.categories and r.confidence == 1.0
    assert r.severity == "medium"


def test_phone_detected():  # test_pii.py:30
    r = pii_result("Call me at 555-123-4567 anytime.")
    assert r.flagged and any(c.startswith("phone") for c in r.categories)


def test_ssn_critical():  # test_pii.py:37
    r = pii_result("My SSN is 123-45-6789")
    assert r.flagged and "ssn" in r.categories and r.severity == "critical"


def test_luhn_valid_card():  # test_pii.py:48
    r = pii_result("Card number: 4111-1111-1111-1111")
    assert r.flagged and "credit_card" in r.categories and r.severity == "critical"


def test_luhn_invalid_card():  # test_pii.py:58
    r = pii_result("Not a card: 1234-5678-9012-3456")
    assert "credit_card" not in r.categories


def test_ip_detected():  # test_pii.py:66
    r = pii_result("Server IP is 192.168.1.100")
    assert r.flagged and "ip_address" in r.categories


def test_invalid_ip_octets():  # test_pii.py:74
    r = pii_result("Not an IP: 999.999.999.999")
    assert "ip_address" not in r.categories


def test_multiple_types_high_or_critical():  # test_pii.py:84
    r = pii_result("Email: test@example.com, Phone: 555-123-4567, SSN: 123-45-6789")
    assert r.flagged and len(set(r.categories)) >= 3
    assert r.severity == "critical"  # ssn present


def test_luhn_vectors():  # test_pii.py:165-175
    assert _luhn_ok("4111111111111111")
    assert _luhn_ok("4111-1111-1111-1111")
    assert _luhn_ok("5500 0000 0000 0004")
    assert not _luhn_ok("1234567890123456")
    assert not _luhn_ok("1111111111111112")


def test_ssn_vectors():  # test_pii.py:177-186
    assert _ssn_ok("123-45-6789")
    assert _ssn_ok("123456789")
    assert not _ssn_ok("900-00-0000")
    assert not _ssn_ok("666-00-0000")
    assert not _ssn_ok("000-00-0000")


def test_ip_vectors():  # test_pii.py:188-197
    assert _ip_ok("192.168.1.1")
    assert _ip_ok("0.0.0.0")
    assert _ip_ok("255.255.255.255")
    assert not _ip_ok("256.0.0.0")
    assert not _ip_ok("192.168.1.999")


def test_redaction_labels():  # test_pii.py:115-123
    out, hits = pii_scrub("My email is john@example.com and my phone is 555-123-4567")
    assert "[EMAIL]" in out and "[PHONE]" in out
    assert "john@example.com" not in out and "555-123-4567" not in out
    assert len(hits) == 2


def test_scrub_custom_replacement():  # pii.py:215-229 replacement arg
    out, _ = pii_scrub("mail me: a@b.co", "[X]")
    assert "[X]" in out and "a@b.co" not in out


def test_blank_guard():  # test_pii.py:101-113
    for blank in ["", "   \n\t   "]:
        r = pii_result(blank)
        assert not r.flagged and r.confidence == 0.0 and r.severity == "none"
        assert pii_scrub(blank)[0] == blank


def test_overlap_keeps_longer():
    # ssn pattern and phone patterns overlap on digit runs; scan output
    # must be non-overlapping and sorted
    hits = pii_scan("Email: test@example.com, Phone: 555-123-4567, SSN: 123-45-6789")
    for a, b in zip(hits, hits[1:]):
        assert a.end <= b.start


def test_scrub_offsets_multiline():  # test_integration.py:232-238
    text = "Name: Jane Doe\nEmail: jane.doe@company.com\nPhone: 555-987-6543\nSSN: 212-45-6789\nIP: 10.0.0.1"
    out, hits = pii_scrub(text)
    assert "jane.doe@company.com" not in out
    assert "555-987-6543" not in out
    assert "212-45-6789" not in out
    assert "10.0.0.1" not in out
    assert out.count("[") == len(hits)
