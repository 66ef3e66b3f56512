"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of ``(seed, size)``: the same seed gives
byte-identical parquet files and an identical request sequence.  The program
under test only ever sees the generated inputs, never the seed.

* ``write_corpus`` — the ``documents`` and ``embeddings`` tables the
  curation operators read, in the schema of ``TESTDATA_SCHEMAS``.  Planted
  structure: 5% of documents are a copy of an earlier document plus the
  token ``dup``, 2% are copies with one or two tokens swapped, and 5% of
  embeddings are a small perturbation of an earlier vector, so the dedup
  and similarity operators have real pairs to find.
* ``api_state`` — the nine reference tables for ``RehiveAPI``: users, a
  referral forest with a chain deeper than the 10-level commission cap and
  a high-fanout hub, gift codes, ledger rows, withdrawals, subscription
  payments and notifications.
* ``api_requests`` — the request cycle played against the facade, each
  request carrying the status the generator expects.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from datetime import datetime, timedelta
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Token vocabulary of the curation corpus (31 tokens, uniform).
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EMB_DIM = 64  # the frozen IVF / semdedup centroids are 64-dimensional


@dataclass(frozen=True)
class CorpusSize:
    docs: int
    embeddings: int


CORPUS_SIZES = {
    # 2,000 vectors put semantic_dedup past its 256 KB BLAS gate, so the
    # Arrow/applyInPandas path runs
    "full": CorpusSize(docs=600, embeddings=2000),
    "tiny": CorpusSize(docs=60, embeddings=60),
}


def write_corpus(out_dir: str, seed: int, size: CorpusSize) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` to ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    texts: list[str] = []
    for i in range(size.docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.07:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))
                ]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    langs = rng.choice(len(LANGS), size.docs, p=LANG_P)
    sources = rng.integers(0, 20, size.docs)
    docs = pa.table(
        {
            "doc_id": pa.array(range(size.docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[k] for k in langs], pa.string()),
            "source": pa.array([f"src{k}" for k in sources], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    vecs = rng.standard_normal((size.embeddings, EMB_DIM))
    for i in range(10, size.embeddings):
        if rng.random() < 0.05:
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.05 * rng.standard_normal(EMB_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(range(size.embeddings), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size.embeddings), pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


# ---------------------------------------------------------------------------
# api workload
# ---------------------------------------------------------------------------

T0 = datetime(2024, 1, 1)
AS_OF = datetime(2024, 1, 21)
DEEP_CHAIN = 14  # deeper than the 10-level commission cap
HUB_DIRECTS = 25


@dataclass(frozen=True)
class ApiSize:
    users: int
    codes: int
    ledger: int
    withdrawals: int
    payments: int
    notifications: int


API_SIZES = {
    "full": ApiSize(users=150, codes=40, ledger=400, withdrawals=30, payments=20,
                    notifications=300),
    "tiny": ApiSize(users=40, codes=12, ledger=60, withdrawals=8, payments=6,
                    notifications=40),
}

PACKAGES = [
    # id, name, price, passive rate, direct rate, monthly fee
    (1, "starter", "100.00", "0.0500", "0.10", "0.00"),
    (2, "silver", "249.99", "0.0333", "0.15", "10.00"),
    (3, "gold", "499.95", "0.0250", "0.20", "25.00"),
    (4, "platinum", "1000.01", "0.0125", "0.25", "50.00"),
    (5, "diamond", "2499.33", "0.0077", "0.33", "99.99"),
]


def _ts(rng: random.Random) -> datetime:
    """A timestamp in the 19 days before AS_OF's eve."""
    return T0 + timedelta(minutes=rng.randint(0, 19 * 24 * 60))


def _money(rng: random.Random, lo: int, hi: int) -> Decimal:
    return Decimal(rng.randint(lo * 100, hi * 100)) / 100


@dataclass
class ApiState:
    """Row dicts per reference table plus the facts the request generator
    needs: which user sits at the bottom of the deep chain, and which codes
    are still redeemable."""

    tables: dict[str, list[dict]]
    deep_tip: str
    open_codes: list[tuple[str, str]]  # (code, creator)


def api_state(seed: int, size: ApiSize) -> ApiState:
    rng = random.Random(seed * 7919 + 11)
    packages = [
        dict(id=i, name=n, price=Decimal(p), passive_commission_rate=Decimal(pr),
             direct_commission_rate=Decimal(dr), description=None,
             monthly_subscription_fee=Decimal(fee), video_url=None,
             created_at=T0 + timedelta(minutes=i))
        for i, n, p, pr, dr, fee in PACKAGES
    ]
    uids = [f"u{i:04d}" for i in range(1, size.users + 1)]
    users = []
    for i, uid in enumerate(uids):
        exp = rng.choice([None, AS_OF + timedelta(days=rng.randint(1, 30)),
                          AS_OF - timedelta(days=rng.randint(1, 30))])
        users.append(dict(
            id=uid, email=f"{uid}@example.com", full_name=f"User {uid}",
            phone_number=None, country=rng.choice(["US", "DE", "FR", None]),
            package_id=rng.choice([None, 1, 2, 3, 4, 5]),
            referral_code=f"REF{uid[1:]}",
            kyc_status=rng.choice(["pending", "approved"]),
            created_at=T0 + timedelta(minutes=i), commission_balance=Decimal("0.00"),
            subscription_status="inactive", subscription_expires_at=exp,
            last_subscription_payment=None,
        ))

    # referral forest: u0001 is the root; a chain of DEEP_CHAIN users hangs
    # off it, then a hub with HUB_DIRECTS directs, then every other user
    # attaches to a random earlier user except a few isolated ones
    edges: list[tuple[str, str]] = []
    chain = uids[1 : 1 + DEEP_CHAIN]
    parent = uids[0]
    for u in chain:
        edges.append((parent, u))
        parent = u
    hub = uids[1 + DEEP_CHAIN]
    edges.append((uids[0], hub))
    rest = uids[2 + DEEP_CHAIN :]
    directs, rest = rest[:HUB_DIRECTS], rest[HUB_DIRECTS:]
    edges += [(hub, u) for u in directs]
    attached = uids[: 2 + DEEP_CHAIN + HUB_DIRECTS]
    for u in rest:
        if rng.random() < 0.9:
            edges.append((rng.choice(attached), u))
        attached.append(u)
    referrals = [
        dict(id=k + 1, referrer_id=a, referred_id=b, created_at=T0 + timedelta(minutes=k))
        for k, (a, b) in enumerate(edges)
    ]

    gift_codes, open_codes = [], []
    for k in range(1, size.codes + 1):
        creator = rng.choice(uids)
        redeemed = rng.random() < 0.25
        code = f"GC{seed % 1000:03d}{k:04d}"
        gift_codes.append(dict(
            id=k, code=code, package_id=rng.randint(1, 5), created_by=creator,
            is_redeemed=redeemed, redeemed_by=rng.choice(uids) if redeemed else None,
            redeemed_at=_ts(rng) if redeemed else None, created_at=_ts(rng),
        ))
        if not redeemed:
            open_codes.append((code, creator))

    commissions = []
    for k in range(1, size.ledger + 1):
        # a third of the ledger lands on the first users so some histories
        # pass the 100-row limit
        uid = rng.choice(uids[:5]) if rng.random() < 0.33 else rng.choice(uids)
        amt = _money(rng, 1, 20)
        commissions.append(dict(
            id=k, user_id=uid, amount=amt, type=rng.choice(["direct", "passive"]),
            source_user_id=rng.choice(uids), gift_code_id=rng.randint(1, size.codes),
            created_at=_ts(rng),
        ))

    withdrawals = []
    for k in range(1, size.withdrawals + 1):
        uid = rng.choice(uids[:10])
        status = rng.choice(["pending", "approved", "rejected"])
        amt = _money(rng, 1, 15)
        withdrawals.append(dict(
            id=k, user_id=uid, amount=amt, status=status,
            payment_method=rng.choice(["bank_transfer", "crypto"]),
            payment_details=None,
            admin_notes="checked" if status == "rejected" else None,
            created_at=_ts(rng),
            processed_at=None if status == "pending" else _ts(rng),
        ))

    payments = []
    for k in range(1, size.payments + 1):
        status = rng.choice(["pending", "approved"])
        payments.append(dict(
            id=k, user_id=rng.choice(uids), amount=Decimal("50.00"),
            payment_proof_url=None, status=status, admin_notes=None,
            created_at=_ts(rng), processed_at=None if status == "pending" else _ts(rng),
        ))

    notifications = []
    for k in range(1, size.notifications + 1):
        uid = rng.choice(uids[:5]) if rng.random() < 0.5 else rng.choice(uids)
        notifications.append(dict(
            id=k, user_id=uid, title=f"n{k}", message=f"message {k}",
            type=rng.choice(["commission", "payment", "info"]),
            is_read=rng.random() < 0.5, created_at=_ts(rng),
        ))

    tables = dict(
        packages=packages, users=users, referrals=referrals, gift_codes=gift_codes,
        commissions=commissions, commission_withdrawals=withdrawals,
        subscription_payments=payments, notifications=notifications,
        company_profits=[],
    )
    return ApiState(tables, deep_tip=chain[-1], open_codes=open_codes)


@dataclass(frozen=True)
class Request:
    """One API call: endpoint name, kind (read/write/redeem/error), keyword
    arguments, and the HTTP-style status the generator expects."""

    method: str
    kind: str
    kwargs: dict
    expect: int = 200

    @property
    def name(self) -> str:
        """The operation's name in the metrics: the endpoint, suffixed with
        the status when the generator planted an error."""
        return self.method if self.expect < 400 else f"{self.method}_{self.expect}"


# The request cycle holds each of its endpoints exactly once, with equal
# weight: one read per derived view or table the reads serve (users with
# their package, the ledger, notifications, gift codes, withdrawals, and the
# admin relation load over subscription payments), the two decision writes
# that change what those views derive (a withdrawal decision and a payment
# approval), one redeem, and one planted 4xx.  Reads are 3 in 4 of the reads
# and simple writes.  The remaining endpoints repeat a path the cycle
# already runs (get_subscription_status and get_user_referrals derive from
# the same users view as get_user; admin_withdrawals is the same relation
# load over withdrawals) or are left out to fit the run budget beside the
# ~30 s redeem (create_gift_code, request_withdrawal, pay_subscription,
# mark_notification_read).  The order is fixed: the writes, the redeem and
# the planted error first, then the reads, so every read runs over the state
# the cycle appended and each endpoint holds the same place (and the same
# share of the session's cold start) in every run.  The seed picks the
# arguments.
READS = (
    "get_user",
    "get_commission_history",
    "get_notifications",
    "get_gift_codes",
    "get_withdrawals",
    "admin_subscription_payments",
)
WRITES = (
    "process_withdrawal",
    "approve_subscription_payment",
)
REDEEM = "redeem_gift_code"
PLANTED = ("process_withdrawal", 404)  # an unknown withdrawal id
PLANTED_NAME = f"{PLANTED[0]}_{PLANTED[1]}"
ENDPOINTS = (*WRITES, REDEEM, PLANTED_NAME, *READS)  # in cycle order


def api_requests(seed: int, state: ApiState, cycle: int = 0) -> list[Request]:
    """The ``cycle``-th request cycle; cycles differ only in their
    arguments, and each redeems a code no earlier cycle used."""
    rng = random.Random((seed * 104729 + 3) * 1000 + cycle)
    redeemable = [c for c, creator in state.open_codes if creator != state.deep_tip]
    random.Random(seed).shuffle(redeemable)
    uids = [u["id"] for u in state.tables["users"]]
    busy = uids[:5]  # users with long ledger and notification histories
    # arguments are drawn from users that have rows for the endpoint, so a
    # request's cost does not swing with the seed
    creators = sorted({c["created_by"] for c in state.tables["gift_codes"]})
    withdrawers = sorted({w["user_id"] for w in state.tables["commission_withdrawals"]})
    n_wd = len(state.tables["commission_withdrawals"])
    n_pay = len(state.tables["subscription_payments"])
    out: list[Request] = []
    for k, name in enumerate(ENDPOINTS):
        ts = AS_OF - timedelta(hours=len(ENDPOINTS) - k)
        if name == PLANTED_NAME:
            out.append(Request(PLANTED[0], "error", dict(
                withdrawal_id=n_wd + rng.randint(1, 999), status="approved", ts=ts),
                PLANTED[1]))
        elif name == REDEEM:
            code = redeemable[cycle % len(redeemable)]
            # the bottom of the deep chain redeems: the 10-level cap binds
            out.append(Request(name, "redeem", dict(code=code, user_id=state.deep_tip, ts=ts)))
        elif name == "process_withdrawal":
            out.append(Request(name, "write", dict(
                withdrawal_id=rng.randint(1, n_wd),
                status=rng.choice(["approved", "rejected"]), ts=ts)))
        elif name == "approve_subscription_payment":
            out.append(Request(name, "write", dict(payment_id=rng.randint(1, n_pay), ts=ts)))
        elif name == "admin_subscription_payments":
            out.append(Request(name, "read", {}))
        elif name == "get_user":
            out.append(Request(name, "read", dict(user_id=rng.choice(uids))))
        elif name == "get_gift_codes":
            out.append(Request(name, "read", dict(user_id=rng.choice(creators))))
        elif name == "get_withdrawals":
            out.append(Request(name, "read", dict(user_id=rng.choice(withdrawers))))
        elif name in ("get_commission_history", "get_notifications"):
            out.append(Request(name, "read", dict(user_id=rng.choice(busy))))
        else:
            raise ValueError(name)
    return out
