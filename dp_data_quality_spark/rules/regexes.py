"""The reference's validation regexes, verbatim, plus RE2-safe twins.

The contract patterns execute as **Java regex** via ``Column.rlike`` —
exactly the engine the reference uses — because several patterns use
possessive quantifiers (``?+``) that Python ``re`` cannot compile and
RE2 rejects (reference: validation_rulebook.py:252,289,548).

For every Java pattern we also keep an RE2-safe equivalent (same
accepted language, possessive quantifiers made greedy, lookahead
eliminated) used ONLY to express DuckDB oracle SQL for the correctness
harness — never in the engine hot path.

Sources (file:line in /root/reference/dp_data_quality/):
- phone/email:      validation_rulebook.py:169,172
- numeric family:   validation_rulebook.py:251-253,288-290,328-330,367-369,408-410,452-454
- ipv4:             validation_rulebook.py:548
- ipv6:             validation_rulebook.py:577-585
- timestamp:        validation_rulebook.py:649-650
"""

# --- sensitive data (rule 16) -------------------------------------------
# Full-cell anchored: a cell IS a phone number / email, not contains one.
PHONE_FULL_JAVA = r"^(\+\d{1,2}\s)?\(?\d{3}\)?[\s.-]\d{3}[\s.-]\d{4}$"
PHONE_FULL_RE2 = PHONE_FULL_JAVA  # no Java-only constructs

# Java accepts the `\w-\.` "range"; RE2/DuckDB needs the literal class.
EMAIL_FULL_JAVA = r"^[\w-\.]+@([\w-]+\.)+[\w-]{2,4}$"
EMAIL_FULL_RE2 = r"^[\w.-]+@([\w-]+\.)+[\w-]{2,4}$"

# --- numeric family (rules 4-9) -----------------------------------------
# regex1: cell is composed only of numeric-ish characters
NUMERIC_CHARS_JAVA = r"^[\deE.+-]+$"
NUMERIC_CHARS_RE2 = r"^[0-9eE.+-]+$"

# regex2 (numeric/float/double variant): optional sign, digits, optional
# fraction.  Possessive `?+` == greedy `?` for this pattern's language.
DECIMAL_SHAPE_JAVA = r"^[-+]?+\d+[.]?+\d*$"
DECIMAL_SHAPE_RE2 = r"^[-+]?[0-9]+[.]?[0-9]*$"

# regex2 (integer/short/long variant): digits with optional trailing `.0`
# (quirk: '1.0' passes the integer check — validation_rulebook.py:289).
INTEGRAL_SHAPE_JAVA = r"^[-+]?+\d+[.]?[0]?+$"
INTEGRAL_SHAPE_RE2 = r"^[-+]?[0-9]+[.]?[0]?$"

# regex3: scientific notation (unanchored substring match in the reference)
SCI_SHAPE_JAVA = r"[+-]?\d(\.\d+)?[Ee][+-]?\d+"
SCI_SHAPE_RE2 = r"[+-]?[0-9](\.[0-9]+)?[Ee][+-]?[0-9]+"

# --- ipv4 (rule 12) ------------------------------------------------------
# Reference uses a lookahead `(?!$)`; RE2 twin unrolls to 3×(octet.) octet.
IPV4_JAVA = r"^(((25[0-5]|(2[0-4]|1\d|[1-9]|)\d)(\.(?!$)|$)){4})$"
_OCTET = r"(25[0-5]|(2[0-4]|1[0-9]|[1-9]|)[0-9])"
IPV4_RE2 = rf"^({_OCTET}\.){{3}}{_OCTET}$"

# --- ipv6 (rule 13) ------------------------------------------------------
# NOT anchored in the reference → substring semantics preserved.
IPV6_JAVA = (
    "(([0-9a-fA-F]{1,4}:){7,7}[0-9a-fA-F]{1,4}|([0-9a-fA-F]{1,4}:)"
    "{1,7}:|([0-9a-fA-F]{1,4}:){1,6}:[0-9a-fA-F]{1,4}|([0-9a-fA-F]{1,4}:){1,5}(:"
    "[0-9a-fA-F]{1,4}){1,2}|([0-9a-fA-F]{1,4}:){1,4}(:[0-9a-fA-F]{1,4}){1,3}|([0"
    "-9a-fA-F]{1,4}:){1,3}(:[0-9a-fA-F]{1,4}){1,4}|([0-9a-fA-F]{1,4}:){1,2}(:[0-9"
    "a-fA-F]{1,4}){1,5}|[0-9a-fA-F]{1,4}:((:[0-9a-fA-F]{1,4}){1,6})|:((:[0-9a-fA-"
    "F]{1,4}){1,7}|:)|fe80:(:[0-9a-fA-F]{0,4}){0,4}%[0-9a-zA-Z]{1,}|::(ffff(:0{1,"
    r"4}){0,1}:){0,1}((25[0-5]|(2[0-4]|1{0,1}[0-9]){0,1}[0-9])\.){3,3}(25[0-5]|(2["
    "0-4]|1{0,1}[0-9]){0,1}[0-9])|([0-9a-fA-F]{1,4}:){1,4}:((25[0-5]|(2[0-4]|1{0,"
    r"1}[0-9]){0,1}[0-9])\.){3,3}(25[0-5]|(2[0-4]|1{0,1}[0-9]){0,1}[0-9]))"
)
IPV6_RE2 = IPV6_JAVA  # no Java-only constructs

# --- timestamp (rule 15) — unanchored, substring semantics ---------------
TIMESTAMP_YMD_JAVA = r"\d{1,4}[-|/]?\d{1,2}[-|/]?\d{1,2} \d{1,2}:\d{1,2}:\d{1,2}[,]?\d{1,3}"
TIMESTAMP_DMY_JAVA = r"\d{1,2}[-|/]?\d{1,2}[-|/]?\d{1,4} \d{1,2}:\d{1,2}:\d{1,2}[,]?\d{1,3}"
TIMESTAMP_YMD_RE2 = TIMESTAMP_YMD_JAVA.replace(r"\d", "[0-9]")
TIMESTAMP_DMY_RE2 = TIMESTAMP_DMY_JAVA.replace(r"\d", "[0-9]")

# --- scrub patterns (engine addition, north rule: emails/phones/SSNs/IPs)
# Unanchored "contains" variants used by the scrub stage; deliberately
# simple so Java regexp_replace and RE2 regexp_replace agree byte-for-byte.
SCRUB_EMAIL = r"[A-Za-z0-9_.+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)+"
SCRUB_PHONE = r"(\+[0-9]{1,2}[ ])?(\([0-9]{3}\)|[0-9]{3})[ .-][0-9]{3}[ .-][0-9]{4}"
SCRUB_SSN = r"[0-9]{3}-[0-9]{2}-[0-9]{4}"
SCRUB_IPV4 = rf"\b({_OCTET}\.){{3}}{_OCTET}\b"
