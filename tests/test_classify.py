"""Classifier parity with TransactionClassifier.cs semantics on the
synthetic chain fixtures (positives, negatives, poison cases)."""

from __future__ import annotations

import pytest

from blockchain_indexer_spark.operators.classify import classify
from blockchain_indexer_spark.operators.extract import assemble_transactions
from tests.chain_fixtures import EXPECTED, build_raw_tables


@pytest.fixture(scope="module")
def classified(spark):
    blocks, txs, logs = build_raw_tables(spark)
    return classify(assemble_transactions(blocks, txs, logs)).cache()


def test_every_case_classified_as_expected(classified):
    got = {r["hash"]: r["classification"] for r in classified.select("hash", "classification").collect()}
    assert len(got) == len(EXPECTED)
    mismatches = {
        h: (exp, got[h]) for h, exp in EXPECTED.items() if got.get(h) != exp
    }
    assert not mismatches, f"classification mismatches: {mismatches}"


def test_flags_consistent_with_labels(classified):
    rows = classified.select("hash", "classification", "is_Erc20Transfer", "is_CrcTrust").collect()
    for r in rows:
        assert r["is_Erc20Transfer"] == ("Erc20Transfer" in r["classification"])
        assert r["is_CrcTrust"] == ("CrcTrust" in r["classification"])


def test_adversarial_abi_offset_poisons_not_crashes(spark):
    """An execTransaction input whose data-offset head word is 2^32
    (or anything in [2^31, 1e38)) must classify the tx Unknown — the
    reference catches the DecodeFunctionInput throw (:439-443) — and
    must NOT abort the batch with an ANSI CAST_OVERFLOW."""
    from tests.chain_fixtures import exec_transaction_input

    base = exec_transaction_input("0x" + "11" * 20, 5)
    # overwrite head slot 2 (offset word) with 2^32
    body = base[10:]
    evil = "0x6a761202" + body[:128] + f"{2**32:064x}" + body[192:]
    blocks = spark.createDataFrame(
        [(1, "0xb1", 1_600_000_000, 1)],
        "number long, hash string, timestamp long, total_transaction_count int",
    )
    txs = spark.createDataFrame(
        [("0xevil", 1, "0xb1", 0, "0xaa", "0xbb", "0", evil, "1", "0")],
        "hash string, block_number long, block_hash string, `index` int, "
        "`from` string, `to` string, value string, input string, nonce string, type string",
    )
    logs = spark.createDataFrame(
        [], "tx_hash string, log_index int, address string, topics array<string>, data string"
    )
    out = classify(assemble_transactions(blocks, txs, logs)).collect()
    assert len(out) == 1
    assert out[0]["classification"] == ["Unknown"]  # poisoned, job alive


def test_huge_tx_value_string_classifies_not_crashes(spark):
    """A wei value string above decimal(38,0) must not abort the
    batch (try_cast policy); the tx simply fails the value>0 gate the
    way an unparseable value lands in Unknown in the reference."""
    blocks = spark.createDataFrame(
        [(1, "0xb1", 1_600_000_000, 1)],
        "number long, hash string, timestamp long, total_transaction_count int",
    )
    txs = spark.createDataFrame(
        [("0xbig", 1, "0xb1", 0, "0xaa", "0xbb", "9" * 50, "0x", "1", "0")],
        "hash string, block_number long, block_hash string, `index` int, "
        "`from` string, `to` string, value string, input string, nonce string, type string",
    )
    logs = spark.createDataFrame(
        [], "tx_hash string, log_index int, address string, topics array<string>, data string"
    )
    out = classify(assemble_transactions(blocks, txs, logs)).collect()
    assert len(out) == 1
    assert out[0]["classification"] == ["Unknown"]


# --- property test: classify() vs a plain-Python statement of the 7
# predicates and the poison rule, in SQL three-valued logic (None is
# NULL). Cites are TransactionClassifier.cs lines, as in the module
# docstring of operators/classify.py.


def _and(*xs):
    if any(x is False for x in xs):
        return False
    return None if any(x is None for x in xs) else True


def _or(*xs):
    if any(x is True for x in xs):
        return True
    return None if any(x is None for x in xs) else False


def _not(x):
    return None if x is None else not x


def _cmp(a, b, op):
    return None if a is None or b is None else op(a, b)


def _hex_to_dec(h):
    """functions.hex.hex_to_decimal: NULL in, NULL at >= 1e38."""
    import re

    if h is None:
        return None
    digits = re.sub("^(0x)?0*", "", h.lower())
    if len(digits) > 32:
        return None
    v = int(digits or "0", 16)
    return None if v >= 10**38 else v


def _strip(a):
    from blockchain_indexer_spark.schemas import ADDRESS_EMPTY_BYTES_PREFIX

    if a is None:
        return None
    return "0x" + a[len(ADDRESS_EMPTY_BYTES_PREFIX):] if a.startswith(ADDRESS_EMPTY_BYTES_PREFIX) else a


def _model_flags(to, value, inp, logs, hub):
    """{is_<label>: True/False/None} for one tx (logs: (address,
    topics, data) in log_index order)."""
    import operator as op
    import re

    from blockchain_indexer_spark.schemas import (
        CRC_HUB_TRANSFER_TOPIC,
        CRC_ORGANISATION_SIGNUP_TOPIC,
        CRC_SIGNUP_MINT_WEI,
        CRC_SIGNUP_TOPIC,
        CRC_TRUST_TOPIC,
        EMPTY_ADDRESS,
        EXEC_TRANSACTION_METHOD_ID,
        EXECUTION_SUCCESS_TOPIC,
        TRANSFER_TOPIC,
    )

    parsed = [
        {
            "address": a,
            "data": d,
            "n": len(t),
            "dec": _hex_to_dec(d),
            "data_addr": _strip(d),
            "t1": _strip(t[1]) if len(t) > 1 else None,
            "t2": _strip(t[2]) if len(t) > 2 else None,
            "topics": t,
        }
        for a, t, d in logs
    ]

    def erc20_p(l):  # :241-275
        return TRANSFER_TOPIC in l["topics"] and l["n"] == 3

    def trust_p(l):  # :200-239
        d = l["dec"]
        return (
            CRC_TRUST_TOPIC in l["topics"] and l["address"] == hub and l["n"] == 3
            and d is not None and 0 <= d <= 100
        )

    def org_p(l):  # :128-155
        return CRC_ORGANISATION_SIGNUP_TOPIC in l["topics"] and l["address"] == hub and l["n"] == 2

    n_logs = len(parsed)
    is_erc20 = any(erc20_p(l) for l in parsed)
    is_trust = any(trust_p(l) for l in parsed)
    is_org = any(org_p(l) for l in parsed)

    # C2 signup (:25-126), each SingleOrDefault a poison point
    sl = [l for l in parsed if CRC_SIGNUP_TOPIC in l["topics"]]
    signup_poison = n_logs >= 3 and len(sl) >= 2
    stage1 = n_logs >= 3 and len(sl) == 1 and sl[0]["address"] == hub and sl[0]["n"] == 2
    user = sl[0]["t1"] if sl else None
    token = sl[0]["data_addr"] if sl else None
    tl = [l for l in parsed if trust_p(l)]
    trust_poison = stage1 and len(tl) >= 2
    trust_ok = _and(
        stage1, len(tl) == 1,
        _cmp(tl[0]["t1"] if tl else None, tl[0]["t2"] if tl else None, op.eq),
        _cmp(tl[0]["t1"] if tl else None, user, op.eq),
    )
    trl = [l for l in parsed if erc20_p(l)]
    transfer_poison = _and(trust_ok, len(trl) >= 2)
    tr = trl[0] if trl else {}
    is_signup = _and(
        trust_ok, len(trl) == 1,
        _cmp(tr.get("address"), token, op.eq),
        _cmp(tr.get("t1"), EMPTY_ADDRESS, op.eq),
        _cmp(tr.get("t2"), user, op.eq),
        _cmp(tr.get("dec"), int(CRC_SIGNUP_MINT_WEI), op.eq),
    )

    # C4 hub transfer (:157-198)
    hl = [l for l in parsed if CRC_HUB_TRANSFER_TOPIC in l["topics"]]
    ht_poison = len(hl) >= 2
    is_hub = len(hl) == 1 and hl[0]["address"] == hub and hl[0]["n"] == 3 and is_erc20

    # C7 EOA (:339-375); value is try_cast to decimal(38,0)
    v = int(value) if re.fullmatch(r"-?\d+", value) and abs(int(value)) < 10**38 else None
    is_eoa = _and(_cmp(v, 0, op.gt), n_logs == 0, _cmp(inp, "0x", op.eq), to is not None)

    # C6 safe transfer (:277-337): ABI head/tail by hex slicing
    def substr(s, pos, n):  # Spark substring, 1-based, pos >= 1
        return None if s is None else s[pos - 1:pos - 1 + n]

    def slot(i):
        return substr(inp, 2 + 8 + i * 64 + 1, 64)

    has_method = (inp or "").startswith(EXEC_TRANSACTION_METHOD_ID)
    length = None if inp is None else len(inp)
    head_ok = _cmp(length, 650, op.ge)
    raw_off = _hex_to_dec(None if inp is None else "0x" + slot(2))
    off = raw_off if raw_off is not None and raw_off < 10**9 else None
    pos = None if off is None else 11 + 2 * off
    decode_ok = _and(
        head_ok, off is not None, pos is not None,
        _cmp(length, None if off is None else 10 + 2 * off + 64, op.ge),
    )
    len_word = substr(inp, pos if pos is not None else 1, 64)
    data_empty = _cmp(_hex_to_dec(None if len_word is None else "0x" + len_word), 0, op.eq)
    op_zero = _cmp(_hex_to_dec(None if inp is None else "0x" + slot(3)), 0, op.eq)
    el = [l for l in parsed if EXECUTION_SUCCESS_TOPIC in l["topics"]]
    safe_decode_poison = _and(has_method, _not(decode_ok))
    safe_exec_poison = _and(has_method, decode_ok, data_empty, op_zero, len(el) >= 2)
    is_safe = _and(has_method, decode_ok, data_empty, op_zero, len(el) == 1, to is not None)

    # poison (:377-444): any throw collapses the whole tx to Unknown
    poisoned = _or(
        signup_poison, trust_poison, transfer_poison, ht_poison,
        safe_decode_poison, safe_exec_poison,
    )
    flags = {
        "Erc20Transfer": is_erc20,
        "CrcSignup": is_signup,
        "CrcOrganisationSignup": is_org,
        "CrcHubTransfer": is_hub,
        "CrcTrust": is_trust,
        "EoaEthTransfer": is_eoa,
        "SafeEthTransfer": is_safe,
    }
    return {f"is_{k}": (False if poisoned is True else f) for k, f in flags.items()}


def _tx_strategy():
    from hypothesis import strategies as st

    from blockchain_indexer_spark.schemas import (
        CRC_HUB_TRANSFER_TOPIC,
        CRC_ORGANISATION_SIGNUP_TOPIC,
        CRC_SIGNUP_TOPIC,
        CRC_TRUST_TOPIC,
        EMPTY_ADDRESS,
        EXECUTION_SUCCESS_TOPIC,
        HUB_ADDRESS,
        TRANSFER_TOPIC,
    )
    from tests.chain_fixtures import MINT, addr, exec_transaction_input, hex256, topic_addr

    users = st.sampled_from([addr(0x101), addr(0x102), EMPTY_ADDRESS])
    tokens = st.sampled_from([addr(0x201), addr(0x202)])
    emitters = st.sampled_from([HUB_ADDRESS, addr(0x201), EMPTY_ADDRESS])
    amounts = st.sampled_from(
        [hex256(MINT), hex256(MINT - 1), hex256(0), hex256(50), hex256(100), hex256(101),
         hex256(2**255), "0x", None]
    )
    extra = st.lists(st.sampled_from([TRANSFER_TOPIC, topic_addr(EMPTY_ADDRESS)]), max_size=1)

    @st.composite
    def topic_log(draw, topic, n_addr_topics):
        """(address, topics, data): `topic` plus up to n padded
        addresses, sometimes one short or one extra."""
        topics = [topic] + [topic_addr(draw(users)) for _ in range(n_addr_topics)]
        topics = topics[: draw(st.sampled_from([len(topics), len(topics), 1]))] + draw(extra)
        return (draw(st.one_of(emitters, tokens)), topics, draw(amounts))

    @st.composite
    def signup_log(draw):
        a, t, _ = draw(topic_log(CRC_SIGNUP_TOPIC, 1))
        return (a, t, draw(st.one_of(tokens.map(topic_addr), st.sampled_from([None, "0x"]))))

    kinds = {
        "signup": signup_log(),
        "trust": topic_log(CRC_TRUST_TOPIC, 2),
        "transfer": topic_log(TRANSFER_TOPIC, 2),
        "hub": topic_log(CRC_HUB_TRANSFER_TOPIC, 2),
        "exec": topic_log(EXECUTION_SUCCESS_TOPIC, 0),
        "org": topic_log(CRC_ORGANISATION_SIGNUP_TOPIC, 1),
        "no_topics": st.tuples(emitters, st.just([]), amounts),
    }

    def with_offset(word):
        base = exec_transaction_input(addr(0x302), 7)
        return base[:138] + word + base[202:]

    inputs = st.sampled_from(
        [
            "0x",
            "0xabcdef",
            None,
            exec_transaction_input(addr(0x302), 42),
            exec_transaction_input(addr(0x302), 42, operation=1),
            exec_transaction_input(addr(0x302), 42, data_len=4),
            exec_transaction_input(addr(0x302), 42)[:400],  # truncated head
            with_offset(f"{2**32:064x}"),  # oversized offset word
            with_offset(f"{10**9:064x}"),  # first offset the gate rejects
            with_offset(f"{10**40:064x}"),  # beyond decimal(38,0)
            with_offset(f"{5000:064x}"),  # points past the end
            with_offset(f"{448:064x}"),  # lands on the signatures length word
            with_offset("zz" * 32),  # malformed: not hex
            exec_transaction_input(addr(0x302), 42)[:650] + f"{2**255:064x}",  # huge data length
        ]
    )

    @st.composite
    def kit(draw):
        """A near-valid signup triple (:25-126), hub transfer pair
        (:157-198), org signup (:128-155) or safe transfer receipt
        (:277-337): mostly valid parts, so near misses are common."""
        user, token = draw(users), draw(tokens)
        mostly = lambda good, *bad: draw(st.sampled_from([good, good, good, *bad]))  # noqa: E731
        return draw(
            st.sampled_from(
                [
                    [
                        (mostly(HUB_ADDRESS, token), [CRC_SIGNUP_TOPIC, topic_addr(user)],
                         mostly(topic_addr(token), None)),
                        (HUB_ADDRESS, [CRC_TRUST_TOPIC, topic_addr(user), topic_addr(mostly(user, token))],
                         mostly(hex256(100), hex256(101), None)),
                        (mostly(token, HUB_ADDRESS),
                         [TRANSFER_TOPIC, topic_addr(mostly(EMPTY_ADDRESS, user)), topic_addr(user)],
                         mostly(hex256(MINT), hex256(MINT - 1), None)),
                    ],
                    [
                        (mostly(HUB_ADDRESS, token),
                         [CRC_HUB_TRANSFER_TOPIC, topic_addr(user), topic_addr(draw(users))], draw(amounts)),
                        (token, [TRANSFER_TOPIC, topic_addr(user), topic_addr(draw(users))], draw(amounts)),
                    ],
                    [(mostly(HUB_ADDRESS, token), [CRC_ORGANISATION_SIGNUP_TOPIC, topic_addr(user)], None)],
                    [(addr(0x301), [EXECUTION_SUCCESS_TOPIC], draw(amounts))],
                    [],
                ]
            )
        )

    copies = st.sampled_from([0, 0, 0, 0, 1, 1, 2, 3])

    @st.composite
    def tx(draw):
        logs = draw(kit())
        if draw(st.booleans()):  # noise
            for strat in kinds.values():
                logs += [draw(strat) for _ in range(draw(copies))]
        logs = draw(st.permutations(logs)) if logs else []
        return (
            draw(st.one_of(st.none(), users, st.just(HUB_ADDRESS))),
            draw(st.sampled_from(["0", "1", "5000", "-2", "9" * 50, "abc"])),
            draw(st.one_of(inputs, st.just(exec_transaction_input(addr(0x302), 42)), st.just("0x"))),
            logs,
        )

    return tx()


def test_classify_matches_python_model_property(spark):
    """Property: all 7 flags (NULLs included) and `classification`
    equal the plain-Python statement of the predicates above, for txs
    mixing 0-3 copies of each relevant log kind with NULL data, empty
    topics, the zero address, malformed ABI offsets and NULL `to`."""
    from hypothesis import given, settings, strategies as st

    from blockchain_indexer_spark.schemas import ALL_CLASS_LABELS, HUB_ADDRESS

    schema = (
        "hash string, `to` string, value string, input string, "
        "logs array<struct<log_index:int,address:string,topics:array<string>,data:string>>"
    )

    @settings(max_examples=12, deadline=None)
    @given(st.lists(_tx_strategy(), min_size=1, max_size=40))
    def check(txs):
        rows = [
            (f"0x{i:x}", to, value, inp, [(j, a, t, d) for j, (a, t, d) in enumerate(logs)])
            for i, (to, value, inp, logs) in enumerate(txs)
        ]
        flag_cols = [f"is_{label}" for label in ALL_CLASS_LABELS]
        got = {
            r["hash"]: r
            for r in classify(spark.createDataFrame(rows, schema))
            .select("hash", "classification", *flag_cols)
            .collect()
        }
        for (h, *_), (to, value, inp, raw) in zip(rows, txs):
            exp = _model_flags(to, value, inp, raw, HUB_ADDRESS)
            labels = [label for label in ALL_CLASS_LABELS if exp[f"is_{label}"] is True]
            r = got[h]
            assert {c: r[c] for c in flag_cols} == exp, (to, value, inp, raw)
            assert r["classification"] == (labels or ["Unknown"]), (to, value, inp, raw)

    check()
