"""Seeded inputs: signup lines, the rule set, the GeoIP range table, the
moderator script and the curation corpus.

Everything here is plain Python and depends only on the seed, so the
feeder process, the workload driver and the checker each regenerate the
same inputs on their own. Each landing file is generated from its own RNG
(seed, workload, file index), so any file can be rebuilt without the ones
before it.
"""

from __future__ import annotations

import json
import random

# -- the rule set ----------------------------------------------------------
#
# Rules are written to disk in the program's rules-file format (a JSON list
# of rule objects, timestamps in epoch millis) and loaded by the program's
# own store; nothing here imports the program.

CODE_RULE = (
    'user:country() == "NL" and user:fp() ~= "<NO PRINT>" '
    'and regex(user:email(), "@temp-?mail\\\\.")'
)
PAST_MS = 1577836800000  # 2020-01-01, for the expired rule
WAVE_MAIL = "WaveMail.test"
WAVE_FP = "fp-wave"
WAVE_IP = "10.99.0.1"


def rule(name, kind, value, actions, **kw):
    return {
        "name": name,
        "criterion": {"kind": kind, "value": value},
        "actions": actions,
        "match_count": 0,
        "most_recent_caught": [],
        "no_delay": kw.get("no_delay", False),
        "enabled": kw.get("enabled", True),
        "susp_ip": kw.get("susp_ip", False),
        "expiry": kw.get("expiry"),
        "exp_notification": 0,
        "creation_date": 0,
        "latest_match_date": None,
    }


def rule_set() -> list[dict]:
    """33 rules: every criterion kind, one CODE rule, a susp_ip-gated rule,
    a disabled and an expired rule that would match nearly everything if
    pruning failed, three wave rules and 18 rules that match nothing (they
    still cost scan time, as unused rules do in production)."""
    rules = [
        rule("r_ip_bad", "IpMatch", "10.66.6.6", ["IpBan", "Close"]),
        rule("r_fp_bad", "PrintMatch", "fp-c0ffee", ["Shadowban"]),
        rule("r_mail_temp", "EmailContains", "tempmail", ["NotifyZulip"]),
        rule("r_mail_re", "EmailRegex", "(?i)^[a-z]+[0-9]{4}@spam\\.", ["Alt"]),
        rule("r_user_sub", "UsernameContains", "xxx", ["EngineMark"]),
        rule("r_user_re", "UsernameRegex", "(?i)^bot_[0-9]+$", ["BoostMark", "NotifyZulip"]),
        rule("r_ua_short", "UseragentLengthLte", "8", ["NotifyZulip"], no_delay=True),
        rule("r_code", "Lua", CODE_RULE, ["NotifyZulip", "Close"]),
        rule("r_vpn_susp", "EmailContains", "vpnmail", ["Close", "EngineMark", "NotifyZulip"], susp_ip=True),
        rule("r_panic", "UsernameContains", "panic", ["EnableChatPanic"], no_delay=True),
        rule("r_disabled", "UsernameContains", "e", ["Close"], enabled=False),
        rule("r_expired", "EmailContains", "@", ["Close"], expiry=PAST_MS),
        rule("r_wave_mail", "EmailContains", "wavemail", ["EngineMark", "NotifyZulip"]),
        rule("r_wave_fp", "PrintMatch", WAVE_FP, ["Close"]),
        rule("r_wave_ip", "IpMatch", WAVE_IP, ["IpBan", "NotifyZulip"]),
    ]
    kinds = [
        ("IpMatch", "192.0.2.{k}"),
        ("PrintMatch", "fp-none-{k}"),
        ("EmailContains", "nomatch{k}"),
        ("EmailRegex", "(?i)^zz{k}q@"),
        ("UsernameContains", "qj{k}zv"),
        ("UsernameRegex", "(?i)^none{k}_"),
    ]
    for k in range(18):
        kind, tmpl = kinds[k % len(kinds)]
        rules.append(rule(f"r_unused_{k:02d}", kind, tmpl.format(k=k), ["Alt"]))
    return rules


# -- GeoIP range table -----------------------------------------------------

COUNTRIES = ["NL", "DE", "FR", "US", "BR", "IN", "GB", "PL", "ES", "SE"]


def geoip_ranges() -> list[tuple[int, int, str, str, list[str]]]:
    """/16 blocks of 10.0.0.0/8, every ninth block left out so that some
    signups get no GeoIP record."""
    out = []
    for b in range(256):
        if b % 9 == 4:
            continue
        lo = 10 * 16777216 + b * 65536
        c = COUNTRIES[(b * 7) % len(COUNTRIES)]
        out.append((lo, lo + 65535, c, f"city_{b}", [f"{c}-{b % 3}"]))
    return out


# -- signup lines ----------------------------------------------------------

_SYLL = ["ka", "ro", "mi", "tu", "le", "no", "sa", "vi", "da", "po", "re", "zu", "fi", "go"]
_DOMAINS = ["gmail.test", "mail.test", "proton.test", "yahoo.test", "outlook.test"]
_UAS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/124.0 Safari/537.36",
    "Mozilla/5.0 (X11; Linux x86_64; rv:125.0) Gecko/20100101 Firefox/125.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.4 Safari/605.1.15",
    "Lichess Mobile/0.9.2 as:anon sri:abc os:Android/14 dev:Pixel 7",
    "LM/0.9.2 iOS/17.4 iPhone14,2",
    "lichess-bot/2024.1.1",
    "Mozilla/5.0 (Linux; Android 13; SM-S908B) AppleWebKit/537.36 Chrome/123.0 Mobile Safari/537.36",
]

# Trait shares for background signups (live_signups and the non-wave part
# of bot_wave). Together they make about 4% of signups match a rule.
_TRAITS = [
    ("ip_bad", 0.004),
    ("fp_bad", 0.004),
    ("tempmail", 0.006),
    ("tempmail_nl", 0.004),
    ("spamre", 0.004),
    ("uname_sub", 0.004),
    ("uname_re", 0.004),
    ("short_ua", 0.004),
    ("vpn", 0.008),
    ("panic", 0.002),
    ("wave", 0.003),
]
REPEAT_SHARE = 0.01  # same signup again in the same file, username case flipped
BAD_LINE_SHARE = 0.005  # malformed, non-signup or incomplete lines


def _nl_ip(rng: random.Random) -> str:
    blocks = [b for b in range(256) if b % 9 != 4 and COUNTRIES[(b * 7) % 10] == "NL"]
    return f"10.{rng.choice(blocks)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"


def _signup(rng: random.Random, uid: str, trait: str | None, wave: bool) -> dict:
    name = rng.choice(_SYLL) + rng.choice(_SYLL) + rng.choice(_SYLL) + uid
    if rng.random() < 0.3:
        name = name.capitalize()
    local = rng.choice(_SYLL) + rng.choice(_SYLL) + str(rng.randrange(100))
    if rng.random() < 0.03:
        ip = f"192.168.{rng.randrange(256)}.{rng.randrange(1, 255)}"
    else:
        ip = f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"
    r = rng.random()
    ev = {
        "t": "signup",
        "username": name,
        "email": f"{local}@{rng.choice(_DOMAINS)}",
        "ip": ip,
        "userAgent": None if r < 0.05 else rng.choice(_UAS),
        "fingerPrint": None if rng.random() < 0.2 else f"fp-{rng.getrandbits(32):08x}",
    }
    s = rng.random()
    if s < 0.15:
        ev["suspIp"] = True
    elif s < 0.9:
        ev["suspIp"] = False
    if wave:
        ev["username"] = "w" + name
        ev["email"] = f"{local}@{WAVE_MAIL}"
        if rng.random() < 0.5:
            ev["fingerPrint"] = WAVE_FP
        if rng.random() < 0.3:
            ev["ip"] = WAVE_IP
    elif trait == "ip_bad":
        ev["ip"] = "10.66.6.6"
    elif trait == "fp_bad":
        ev["fingerPrint"] = "fp-c0ffee"
    elif trait == "tempmail":
        ev["email"] = f"{local}@{rng.choice(['TempMail.test', 'tempmail.test', 'temp-mail.test'])}"
    elif trait == "tempmail_nl":
        ev["email"] = f"{local}@{rng.choice(['tempmail.test', 'temp-mail.test'])}"
        ev["ip"] = _nl_ip(rng)
    elif trait == "spamre":
        letters = "".join(rng.choice("abcdefgh") for _ in range(4))
        ev["email"] = f"{letters.upper()}{rng.randrange(1000, 10000)}@Spam.test"
    elif trait == "uname_sub":
        ev["username"] = name[:3] + "XxX" + name[3:]
    elif trait == "uname_re":
        ev["username"] = "Bot_" + "".join(uid.split("_")[1:2]) + uid.split("_")[2].zfill(5)
    elif trait == "short_ua":
        ev["userAgent"] = rng.choice(["curl/7", "Go-http", "x"])
    elif trait == "vpn":
        ev["email"] = f"{local}@vpnmail.test"
    elif trait == "panic":
        ev["username"] = "Panic" + name
    return ev


def _bad_line(rng: random.Random, uid: str) -> str:
    k = rng.randrange(3)
    if k == 0:
        return '{"t":"signup","username":"broken' + uid
    if k == 1:
        return json.dumps({"t": "other", "username": "o" + uid, "email": "e@x", "ip": "1.2.3.4"})
    return json.dumps({"t": "signup", "username": "noemail" + uid, "ip": "10.1.2.3"})


def _flip_case(name: str) -> str:
    i = next(i for i, ch in enumerate(name) if ch.isalpha())
    return name[:i] + name[i].swapcase() + name[i + 1:]


def landing_file(seed: int, workload: str, index: int, n_lines: int, wave_share: float) -> list[str]:
    """The NDJSON lines of one landing file. Usernames carry the file and
    line index, so they are unique within a run except for the deliberate
    repeats (the same signup again in the same file with its username's
    case flipped, which exercises notify de-duplication by lower-cased id)."""
    rng = random.Random(f"{seed}:{workload}:{index}")
    lines: list[str] = []
    prev: dict | None = None
    for j in range(n_lines):
        uid = f"_{index}_{j}"
        x = rng.random()
        if prev is not None and x < REPEAT_SHARE:
            ev = dict(prev, username=_flip_case(prev["username"]))
            prev = None
            lines.append(json.dumps(ev, separators=(",", ":")))
            continue
        x -= REPEAT_SHARE
        if x < BAD_LINE_SHARE:
            lines.append(_bad_line(rng, uid))
            continue
        wave = rng.random() < wave_share
        trait = None
        if not wave:
            t = rng.random()
            for name, share in _TRAITS:
                if t < share:
                    trait = name
                    break
                t -= share
            wave = trait == "wave"
        ev = _signup(rng, uid, trait, wave)
        prev = ev
        lines.append(json.dumps({k: v for k, v in ev.items() if v is not None}, separators=(",", ":")))
    return lines


def parse_line(line: str) -> dict | None:
    """The wire contract as a plain-Python statement: a signup line with
    username, email and ip; anything else is dropped."""
    try:
        obj = json.loads(line)
    except json.JSONDecodeError:
        return None
    if not isinstance(obj, dict) or obj.get("t") != "signup":
        return None
    if obj.get("username") is None or obj.get("email") is None or obj.get("ip") is None:
        return None
    return {
        "username": obj["username"],
        "email": obj["email"],
        "ip": obj["ip"],
        "user_agent": obj.get("userAgent"),
        "finger_print": obj.get("fingerPrint"),
        "susp_ip": bool(obj.get("suspIp") or False),
    }


# -- the moderator script (live_signups) -----------------------------------


def dryrun_users(seed: int) -> list[dict]:
    """Users for ``signup rules test``: each matches a known mix of rules
    (or none), including the rule the script adds a moment earlier."""
    rng = random.Random(f"{seed}:dryrun")
    base = [
        {"username": "DryTemp{n}", "email": "a{n}@tempmail.test", "ip": "10.1.1.{n}", "userAgent": "curl/7"},
        {"username": "Bot_{n}", "email": "b{n}@gmail.test", "ip": "10.66.6.6", "fingerPrint": "fp-c0ffee"},
        {"username": "dryvpn{n}", "email": "c{n}@vpnmail.test", "ip": "10.2.2.2", "suspIp": True},
        {"username": "zqxmod{n}", "email": "d{n}@mail.test", "ip": "10.3.3.3", "userAgent": "Mozilla/5.0 x"},
        {"username": "drynone{n}", "email": "e{n}@mail.test", "ip": "10.4.4.4", "userAgent": "Mozilla/5.0 x"},
    ]
    out = []
    for k in range(64):
        tmpl = base[k % len(base)]
        n = rng.randrange(1, 250)
        out.append({key: (v.format(n=n) if isinstance(v, str) else v) for key, v in tmpl.items()})
    return out


def moderator_script() -> list[tuple[str, str | None]]:
    """One cycle of (kind, command-or-None). The churned rule ``mod_<k>``
    matches usernames containing ``zqxmod``, which no streamed signup has:
    rule churn then changes no streamed outcome, and a ``remove`` can never
    race a match of the removed rule. ``seen`` commands are filled in at
    send time (the target must already be processed)."""
    return [
        ("dryrun", None),
        ("add", "signup rules add mod_{k} if username contains zqxmod then notify+engine"),
        ("seen_yes", None),
        ("disable", "signup rules disable-re ^mod_{k}$"),
        ("enable", "signup rules enable-re ^mod_{k}$"),
        ("dryrun", None),
        ("renew", "signup rules renew mod_{k} 7d"),
        ("remove", "signup rules remove mod_{k}"),
        ("seen_no", None),
        ("status", "status"),
    ]


def dryrun_command(user: dict) -> str:
    return "signup rules test `" + json.dumps(user, separators=(",", ":")) + "`"


# -- the curation corpus ---------------------------------------------------

_VOCAB = (
    "a the data spark stream batch query table row column key value hash join "
    "sort merge filter group agg window scan part line order customer vector "
    "fast slow big small"
).split()
_LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14


def corpus(seed: int, n_docs: int = 5000) -> list[dict]:
    """Documents shaped like the repository's sf0.1 ``documents`` table, as
    measured on that file: random words from a 30-word vocabulary, 10-100
    words (uniform), lower case and single spaces only, five languages,
    twenty sources; 0.16% verbatim copies of an earlier document and 4.8%
    near copies of one, with one word inserted or deleted (word-bigram
    Jaccard about 0.98)."""
    rng = random.Random(f"{seed}:corpus")
    docs: list[dict] = []
    for i in range(n_docs):
        x = rng.random()
        if i > 10 and x < 0.0016:
            text = docs[rng.randrange(i)]["text"]
        elif i > 10 and x < 0.0016 + 0.048:
            words = docs[rng.randrange(i)]["text"].split(" ")
            if rng.random() < 0.5:
                words.insert(rng.randrange(len(words) + 1), rng.choice(_VOCAB))
            else:
                del words[rng.randrange(len(words))]
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(_VOCAB) for _ in range(rng.randrange(10, 101)))
        docs.append(
            {
                "doc_id": i,
                "text": text,
                "lang": rng.choice(_LANGS),
                "source": f"src{i % 20}",
                "n_chars": len(text),
            }
        )
    return docs
