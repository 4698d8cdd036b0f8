"""Deterministic synthetic page corpus + analytic goldens (FIXTURES.md F1-F8).

Every page is a pure function of its index ``i`` (md5-keyed pseudo-randomness,
no shared RNG state), so the corpus can be generated DISTRIBUTED — Spark
``range(n)`` → ``mapInPandas`` — with zero driver materialization, and the
golden outputs (mentions, triples) can be derived analytically on the driver
at test scale by replaying the same manifest logic.

The embedded mention mix matches the reference's extraction rules (citations
in functions/mentions.py) including negatives: 39/41-hex near-miss wallets,
``fake.ethereum.org`` ENS traps, >15-char handles, media URLs.
Hub skew: 5 hub handles appear on ~20% of pages (FIXTURES.md F1) to exercise
AQE/salting paths.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterator

import pandas as pd

from . import dictionaries as D

N_SITES = 20
N_WALLETS = 200
N_ENS = 150
N_HANDLES = 100
N_SCORED_AUTHORS = 20  # authors 0..19 consistently reference "their" handle
N_HUBS = 5
EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

REF_COUNT_THRESHOLD = 3  # reference: count(refs) > 3   (accounts/cyphers.py:89)
REF_PROPORTION = 0.8  # reference: refs/authored > 0.8  (accounts/cyphers.py:95)


# ---------------------------------------------------------------------------
# per-page manifest: everything embedded in page i, as structured data
# ---------------------------------------------------------------------------

def page_manifest(i: int) -> dict:
    m: dict = {"i": i}
    m["url"] = f"https://site-{i % N_SITES}.example/page/{D._md5(f'u{i}')[:12]}"
    day, sec = i % 90, D.det_int("ts", i, 86400)
    m["warc_ts"] = EPOCH + dt.timedelta(days=day, seconds=sec)
    lang_roll = D.det_int("lang", i, 100)
    m["lang"] = "en" if lang_roll < 90 else ("es", "zh", "de")[lang_roll % 3]
    m["empty"] = D.det_int("empty", i, 10) == 0
    m["malformed"] = not m["empty"] and D.det_int("mal", i, 100) < 5
    m["pre_extracted"] = not m["empty"] and D.det_int("pre", i, 10) == 7

    author = i % N_WALLETS
    m["author_wallet"] = D.wallet_address(author)
    # referenced twitter handle(s): scored authors always cite their handle
    refs: dict[str, int] = {}
    if author < N_SCORED_AUTHORS:
        refs[D.twitter_handle(author)] = 2 + D.det_int("c", i, 3)
    else:
        refs[D.twitter_handle(D.det_int("r", i, N_HANDLES))] = 1 + D.det_int("c", i, 3)
    if D.det_int("hub", i, 100) < 20:  # hub skew
        hub = D.twitter_handle(D.det_int("hubpick", i, N_HUBS))
        refs[hub] = refs.get(hub, 0) + 1 + D.det_int("hubc", i, 2)
    m["twitter_refs"] = refs

    m["ens"] = (
        D.ens_name(D.det_int("e2", i, N_ENS)) if D.det_int("e", i, 3) == 0 else None
    )
    m["at_handle"] = (
        D.twitter_handle(D.det_int("m2", i, N_HANDLES))
        if D.det_int("m", i, 4) == 0
        else None
    )
    m["dict_alias"] = (
        f"token{D.det_int('d2', i, D.N_TOKEN_ENTITIES)}"
        if D.det_int("d", i, 5) == 0
        else None
    )
    m["negative"] = D.det_int("neg", i, 4)  # which negative trap to embed
    return m


_NEGATIVES = (
    "near-miss 0x" + "ab12" * 9 + "abc",  # 39 hex chars -> not a wallet
    "overrun 0x" + "ab12" * 10 + "f too long",  # 41 hex chars -> rejected
    "trap fake.ethereum.org is not an ens name",
    "ping @thishandleisdefinitelytoolong and media https://cdn.example/x.png",
)


def page_paragraphs(m: dict) -> list[str]:
    """The plain-text paragraphs of page i — this IS the golden text
    (byte-parity oracle): the HTML wrapper below is constructed so that
    extraction provably recovers '\\n\\n'.join(paragraphs)."""
    i = m["i"]
    paras = [f"Page {i} from site-{i % N_SITES}"]
    paras.append(f"Author wallet: {m['author_wallet']}")
    ref_bits = []
    for h in sorted(m["twitter_refs"]):
        ref_bits.extend([f"https://twitter.com/{h}"] * m["twitter_refs"][h])
    paras.append("Referenced profiles: " + " ".join(ref_bits))
    if m["ens"]:
        paras.append(f"Resolved via {m['ens']} on chain")
    if m["at_handle"]:
        paras.append(f"cc @{m['at_handle']} for review")
    if m["dict_alias"]:
        paras.append(f"Market notes on {m['dict_alias']} listings")
    paras.append(_NEGATIVES[m["negative"]])
    filler = [
        D.FILLER_WORDS[D.det_int(f"f{j}", i, len(D.FILLER_WORDS))] for j in range(8)
    ]
    paras.append(" ".join(filler))
    return paras


def render_html(m: dict) -> bytes | None:
    """Wrap paragraphs in a noisy-but-well-formed HTML template (script/style/
    comments that extraction must drop); ~5% malformed, ~10% empty body."""
    if m["pre_extracted"]:
        return None
    if m["empty"]:
        return b"<html><head></head><body></body></html>"
    paras = page_paragraphs(m)
    body = "".join(f"<p>{p}</p>" for p in paras[1:])
    doc = (
        "<html><head>"
        f"<title>{paras[0]}</title>"
        "<style>body { color: #000; }</style>"
        "<script>var tracker = 'noise 0xdeadbeefdeadbeefdeadbeefdeadbeefdeadbeef';</script>"
        "</head><body>"
        "<!-- comment noise @commentghost -->"
        f"<div id=\"main\">{body}</div>"
        "</body></html>"
    )
    if m["malformed"]:
        doc = doc.replace("</body></html>", "<p>trailing unclosed", 1)
    return doc.encode("utf-8")


def expected_text(m: dict) -> str:
    """Golden extracted text for page i (composed, NOT derived by running the
    extractor — the parity test is therefore non-circular for clean pages).
    Malformed pages append the unclosed trailing paragraph the template adds."""
    if m["empty"]:
        return ""
    paras = page_paragraphs(m)
    if m["malformed"]:
        paras = paras + ["trailing unclosed"]
    return "\n\n".join(paras)


def page_record(i: int) -> dict:
    m = page_manifest(i)
    text = expected_text(m)
    return {
        "url": m["url"],
        "warc_ts": m["warc_ts"],
        "html": render_html(m),
        "text": text if m["pre_extracted"] else None,
        "lang": m["lang"],
    }


# ---------------------------------------------------------------------------
# distributed generation (Spark-side; no driver materialization)
# ---------------------------------------------------------------------------

def pages_df(spark, n: int, partitions: int | None = None):
    """Generate the pages table distributed: range → mapInPandas."""
    from ..schemas import PAGES

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame([page_record(int(i)) for i in b["id"]])

    rng = spark.range(n, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return rng.mapInPandas(gen, schema=PAGES)


# ---------------------------------------------------------------------------
# side tables (pandas; all tiny / dimension-shaped)
# ---------------------------------------------------------------------------

def registrations_pdf() -> pd.DataFrame:
    """FIXTURES.md F5 — ens(k) owned by wallet(k % N_WALLETS)
    (drives Wallet-[HAS_ALIAS]->Ens; reference helpers/queries.py:79-92,127-139)."""
    return pd.DataFrame(
        [
            {
                "name": D.ens_name(k),
                "owner": D.wallet_address(k % N_WALLETS),
                "resolved_address": D.wallet_address(k % N_WALLETS),
                "registrant": D.wallet_address(k % N_WALLETS),
                "transaction_id": "0x" + D._md5(f"rtx{k}"),
                "block_number": 17_000_000 + k,
            }
            for k in range(N_ENS)
        ]
    )


def profiles_pdf() -> pd.DataFrame:
    """FIXTURES.md F2 — twitter profiles; even-k bios carry ens(k)
    (Twitter-[HAS_ALIAS]->Ens via bio extraction, twitterBiosENS), k%3==0 bios
    mention @handle(k+1) (BIO_MENTIONED, twitterRelations/cyphers.py:73)."""
    rows = []
    for k in range(N_HANDLES):
        bio = f"Building things. id {k}."
        if k % 2 == 0:
            bio += f" Find me at {D.ens_name(k)}"
        if k % 3 == 0:
            bio += f" friends with @{D.twitter_handle((k + 1) % N_HANDLES)}"
        rows.append(
            {
                "handle": D.twitter_handle(k),
                "name": f"User {k}",
                "bio": bio,
                "verified": k % 7 == 0,
                "user_id": str(10_000 + k),
                "follower_count": (k * 37) % 5000,
                "website": f"https://user{k}.example" if k % 4 == 0 else None,
                "language": "en",
            }
        )
    return pd.DataFrame(rows)


def balances_pdf() -> pd.DataFrame:
    """FIXTURES.md F4 — two snapshots for HOLDS→HELD rotation
    (postProcessing/tokenHolders/cypher.py:104-148): snapshot 1 = wallets
    0..49, snapshot 2 = wallets 25..74 (same token assignment k%30).
    Includes >2^63 hex balances (arbitrary-precision path, ingest.py:7-10)."""
    rows = []
    for snap, wallets in ((1, range(0, 50)), (2, range(25, 75))):
        ts = EPOCH + dt.timedelta(days=100 + snap)
        for k in wallets:
            big = k % 10 == 0
            bal = (2**70 + k) if big else (k + 1) * 10**18
            rows.append(
                {
                    "address": D.wallet_address(k),
                    "contract_address": D.token_contract(k % D.N_TOKEN_ENTITIES),
                    "balance_hex": hex(bal),
                    "token_id": str(k) if k % 3 == 0 else None,
                    "snapshot_ts": ts,
                    "snapshot": snap,
                }
            )
    return pd.DataFrame(rows)


def alias_dict_pdf() -> pd.DataFrame:
    return pd.DataFrame(D.alias_dict_rows())


# ---------------------------------------------------------------------------
# feed tables for the widened edge vocabulary (operators/edge_rules.py) —
# each embeds the negative trap its reference MERGE site implies
# ---------------------------------------------------------------------------

def transfers_pdf() -> pd.DataFrame:
    """Token transfers; consecutive k share a tx hash, every 10th row is an
    exact duplicate (dedup trap — ingest.py:31 drop_duplicates)."""
    rows = []
    for k in range(150):
        rows.append(
            {
                "from_address": D.wallet_address(k % 50),
                "to_address": D.wallet_address((k * 7 + 3) % 50),
                "tx_hash": "0x" + D._md5(f"ftx{k - (k % 2)}"),
            }
        )
        if k % 10 == 0:
            rows.append(dict(rows[-1]))
    return pd.DataFrame(rows)


def followers_pdf() -> pd.DataFrame:
    """Follower/following lists; every 11th row re-lands with an upper-cased
    handle (case-fold dedup trap — toLower at cyphers.py:134-137)."""
    rows = []
    for k in range(80):
        rows.append(
            {
                "handle": D.twitter_handle(k % 30),
                "follower": D.twitter_handle((k + 7) % 30),
                "list_kind": "following" if k % 3 == 0 else "follower",
            }
        )
        if k % 11 == 0:
            dup = dict(rows[-1])
            dup["handle"] = dup["handle"].upper()
            rows.append(dup)
    return pd.DataFrame(rows)


def proposals_pdf() -> pd.DataFrame:
    """Governance proposals; p % 3 == 0 ids are withheld so votes on them
    are negatives the VOTED MATCH-join must drop."""
    return pd.DataFrame(
        [
            {
                "proposal_id": f"prop{p}",
                "space_id": f"space{p % 6}.eth",
                "author": D.wallet_address(p % 50),
            }
            for p in range(24)
            if p % 3 != 0
        ]
    )


def votes_pdf() -> pd.DataFrame:
    """Votes referencing prop0..prop29 — ids ≥ 24 and % 3 == 0 never exist."""
    return pd.DataFrame(
        [
            {
                "vote_id": "0x" + D._md5(f"fv{v}"),
                "voter": D.wallet_address((v * 3) % 50),
                "proposal_id": f"prop{v % 30}",
            }
            for v in range(90)
        ]
    )


def space_members_pdf() -> pd.DataFrame:
    return pd.DataFrame(
        [
            {
                "space_id": f"space{m % 6}.eth",
                "address": D.wallet_address(m % 50),
                "member_type": "admin" if m % 5 == 0 else "member",
            }
            for m in range(30)
        ]
    )


def strategies_pdf() -> pd.DataFrame:
    """Strategy tokens; s % 4 == 0 rows carry a truncated 12-hex address
    that must fail the ^0x[40 hex]$ gate (snapshot/ingest.py:150-158)."""
    rows = []
    for s in range(12):
        tok = D.token_contract(s % 8)
        rows.append(
            {
                "space_id": f"space{s % 6}.eth",
                "token_address": tok[:12] if s % 4 == 0 else tok,
            }
        )
    return pd.DataFrame(rows)


def grant_admins_pdf() -> pd.DataFrame:
    return pd.DataFrame(
        [
            {
                "grant_id": f"grant{g}",
                "address": D.wallet_address((g * 11 + 1) % 50),
            }
            for g in range(8)
        ]
    )


def donations_pdf() -> pd.DataFrame:
    """Donations; d % 4 == 0 rows carry a wrong destination and grants 8-9
    have no admin — both drop at the IS_ADMIN join (gitcoin/cyphers.py:
    227-229)."""
    return pd.DataFrame(
        [
            {
                "tx_hash": "0x" + D._md5(f"fdon{d}"),
                "donor": D.wallet_address(d % 50),
                "grant_id": f"grant{d % 10}",
                "destination": D.wallet_address(
                    ((d + 13) % 50) if d % 4 == 0 else (((d % 10) * 11 + 1) % 50)
                ),
                "amount": float(d),
            }
            for d in range(60)
        ]
    )


def delegations_pdf() -> pd.DataFrame:
    """Delegate-change stream: each (protocol, delegator) key sees 3-4
    changes; only the highest block's target survives (latest-wins,
    delegation/cyphers.py:156-199)."""
    return pd.DataFrame(
        [
            {
                "protocol": "compound" if e % 2 == 0 else "uniswap",
                "delegator": D.wallet_address(e % 12),
                "delegate": D.wallet_address((e * 5 + 7) % 50),
                "block_number": 1000 + e,
                "tx_hash": "0x" + D._md5(f"fdg{e}"),
                # governance token is protocol-keyed (USE_TOKEN,
                # delegation/cyphers.py:71-88)
                "contract_address": D.token_contract(e % 2),
            }
            for e in range(40)
        ]
    )


def deployments_pdf() -> pd.DataFrame:
    return pd.DataFrame(
        [
            {
                "contract_address": "0x" + D._md5(f"fct{c}") + D._md5(f"fctx{c}")[:8],
                "deployer": D.wallet_address((c * 3) % 50),
                "tx_hash": "0x" + D._md5(f"fdep{c}"),
            }
            for c in range(10)
        ]
    )


def multisig_signers_pdf() -> pd.DataFrame:
    """Safe signer sets; the creator is safe-keyed (one creation tx per
    multisig — multisig/cyphers.py:60-70)."""
    return pd.DataFrame(
        [
            {
                "multisig": D.wallet_address(200 + s % 5),
                "owner_address": D.wallet_address(s % 50),
                "creator": D.wallet_address(100 + s % 5),
            }
            for s in range(15)
        ]
    )


def nfts_pdf() -> pd.DataFrame:
    """Article NFTs; urls reuse the page keyspace so HAS_NFT edges attach
    to the same Page nodes the mention edges reference."""
    return pd.DataFrame(
        [
            {
                "article_url": page_manifest(j * 7)["url"],
                "nft_id": "0x" + D._md5(f"fnft{j % 5}") + f":{j % 9}",
                "owner": D.wallet_address((j * 9 + 2) % 50),
                "funding_recipient": D.wallet_address((j * 5 + 1) % 50),
            }
            for j in range(12)
        ]
    )


def nft_holdings_pdf() -> pd.DataFrame:
    """Two per-tokenId holding snapshots with heavy key overlap; balance-0
    rows restate holders the latest scrape zeroed out
    (tokenHolders/cypher.py:28-41) — they are not current holders, so
    their prev twins rotate to HELD_TOKEN."""
    rows = []
    for k in range(40):
        rows.append(
            {
                "address": D.wallet_address(k % 12),
                "contract_address": "0x" + D._md5(f"fnftc{k % 4}"),
                "token_id": str(k % 9),
                "balance": 0 if k % 7 == 0 else 1 + k % 3,
                "snapshot": "prev",
            }
        )
    for k in range(20, 55):
        rows.append(
            {
                "address": D.wallet_address(k % 12),
                "contract_address": "0x" + D._md5(f"fnftc{k % 4}"),
                "token_id": str(k % 9),
                "balance": 0 if k % 11 == 0 else 1 + k % 3,
                "snapshot": "curr",
            }
        )
    return pd.DataFrame(rows)


def moloch_daos_pdf() -> pd.DataFrame:
    return pd.DataFrame(
        [
            {
                "dao_id": f"mdao{d}",
                "summoner": D.wallet_address((d * 9 + 1) % 50),
                "token_address": D.token_contract(d % D.N_TOKEN_ENTITIES),
            }
            for d in range(4)
        ]
    )


def moloch_members_pdf() -> pd.DataFrame:
    """Members; daos mdao4/5 never exist (MATCH-drop negatives), every 9th
    member re-lands with different shares (max-fold trap)."""
    rows = []
    for k in range(30):
        rows.append(
            {
                "dao_id": f"mdao{k % 6}",
                "member": D.wallet_address(k % 20),
                "shares": 1 + k % 7,
            }
        )
        if k % 9 == 0:
            dup = dict(rows[-1])
            dup["shares"] = dup["shares"] + 5
            rows.append(dup)
    return pd.DataFrame(rows)


def moloch_proposals_pdf() -> pd.DataFrame:
    """Proposals; NULL sponsor/processor rows restate unsponsored /
    unprocessed proposals, zero tribute/payment rows gate IS_TRIBUTING /
    IS_PAYING, daos mdao4/5 drop at the HAS_PROPOSAL dao join."""
    return pd.DataFrame(
        [
            {
                "proposal_id": f"mp{p}",
                "dao_id": f"mdao{p % 6}",
                "proposer": D.wallet_address(p % 20),
                "sponsor": None if p % 3 == 0 else D.wallet_address((p + 4) % 20),
                "processor": D.wallet_address((p + 8) % 20) if p % 4 == 0 else None,
                "applicant": D.wallet_address((p + 2) % 20),
                "tribute_offered": float(p % 5),
                "payment_requested": float(p % 7),
            }
            for p in range(18)
        ]
    )


def moloch_votes_pdf() -> pd.DataFrame:
    """Votes referencing mp0..mp23 — ids ≥ 18 never exist (VOTED MATCH
    negatives); dao ids cycle to mdao5 (IS_VOTER negatives)."""
    return pd.DataFrame(
        [
            {
                "vote_id": f"mv{v}",
                "proposal_id": f"mp{v % 24}",
                "dao_id": f"mdao{v % 6}",
                "voter": D.wallet_address((v * 3) % 20),
                "shares": 1 + v % 10,
            }
            for v in range(50)
        ]
    )


def loans_pdf() -> pd.DataFrame:
    """NFT-collateralized loans; l % 5 == 0 rows carry a truncated
    denomination token (the :Token:ERC20 address-validity negative).
    ``marketplace`` cycles the five traders-analyzer venues
    (traders/cyphers.py:55-180)."""
    venues = ("nftfi", "x2y2", "paraspace", "arcade.xyz", "bend")
    return pd.DataFrame(
        [
            {
                "loan_id": f"floan{l}",
                "borrower": D.wallet_address(l % 20),
                "lender": D.wallet_address((l + 5) % 20),
                "collateral_contract": "0x" + D._md5(f"fnftc{l % 4}"),
                "collateral_token_id": str(l % 9),
                "denomination_token": (
                    "0x" + D._md5(f"ftok{l % 6}")[:10]
                    if l % 5 == 0
                    else D.token_contract(l % D.N_TOKEN_ENTITIES)
                ),
                "marketplace": venues[l % 5],
            }
            for l in range(12)
        ]
    )


def repos_pdf() -> pd.DataFrame:
    """Repo role lists; r % 7 == 0 rows have NULL handles (the reference's
    WHERE IS NOT NULL drop), every 10th handle re-lands upper-cased
    (case-fold dedup trap). r % 6 == 2 rows carry the token whose metadata
    names this repo (HAS_REPOSITORY, tokenMetadata/process.py:152) — row
    14 is BOTH NULL-handle and token-bearing, so the role family drops it
    while the token family keeps it."""
    rows = []
    for r in range(30):
        handle = None if r % 7 == 0 else f"dev{r % 13}"
        if handle and r % 10 == 0:
            handle = handle.upper()
        rows.append(
            {
                "full_name": f"org{r % 5}/repo{r % 11}",
                "handle": handle,
                "role": ("owner", "contributor", "subscriber")[r % 3],
                "token_address": (
                    D.token_contract(r % D.N_TOKEN_ENTITIES)
                    if r % 6 == 2
                    else None
                ),
            }
        )
    return pd.DataFrame(rows)


def grant_members_pdf() -> pd.DataFrame:
    """Team members; grants 8-9 were never ingested (grant_admins carries
    0-7), so their member rows drop at the registry join."""
    return pd.DataFrame(
        [
            {"grant_id": f"grant{g % 10}", "user_id": f"gcuser{g % 9}"}
            for g in range(20)
        ]
    )


def websites_pdf() -> pd.DataFrame:
    """Profile websites; the hostless row restates the reference's
    urlparse guard (twitterRelations/process.py:55-73)."""
    rows = [
        {"website_url": f"https://user{w % 8}.example/about"} for w in range(12)
    ]
    rows.append({"website_url": "not a url"})
    return pd.DataFrame(rows)


def platform_accounts_pdf() -> pd.DataFrame:
    """Creator/professional platform accounts (creators/cyphers.py:35-63;
    professionals/cyphers.py:60-90). follows is account-keyed; the even
    accounts carry follows = 0 — the negative the Dune property gate
    (``WHERE dune.follows > 0``) must drop. Bios cycle keyword templates
    for the professionals fulltext rules."""
    bios = (
        "Co-Founder building onchain",
        "investing in early teams",
        "Marketing and brand work",
        "VP of Sales; partnerships",
        "community manager for the dao",
        "plain web3 enjoyer",
    )
    rows = []
    for k in range(30):
        acct = k % 7
        rows.append(
            {
                "address": D.wallet_address(k % 50),
                "platform": ("Sound", "Dune", "Dune", "Twitter")[k % 4],
                "account_id": f"acct{acct}",
                "follows": 0 if acct % 2 == 0 else 1 + acct % 5,
                "bio": bios[acct % 6],
            }
        )
    return pd.DataFrame(rows)


def locks_pdf() -> pd.DataFrame:
    """Unlock locks/keys; key contract is lock-keyed
    (unlock/cyphers.py:71-140)."""
    return pd.DataFrame(
        [
            {
                "lock_address": "0x" + D._md5(f"flock{k % 4}"),
                "key_address": "0x" + D._md5(f"flkey{k % 4}"),
                "manager": D.wallet_address((k * 3 + 2) % 50),
                "holder": D.wallet_address((k * 7 + 5) % 50),
            }
            for k in range(10)
        ]
    )


def ph_communities_pdf() -> pd.DataFrame:
    """PropHouse communities; c % 3 == 0 rows carry a truncated token (the
    Token:ERC721 MATCH restated as the 40-hex gate,
    propHouse/cyphers.py:55-67)."""
    rows = []
    for c in range(4):
        tok = D.token_contract(c % D.N_TOKEN_ENTITIES)
        rows.append(
            {
                "community_id": f"phc{c}",
                "contract_address": tok[:12] if c % 3 == 0 else tok,
            }
        )
    return pd.DataFrame(rows)


def ph_auctions_pdf() -> pd.DataFrame:
    """Auctions; phc4/phc5 never exist (HAS_AUCTION MATCH negatives)."""
    return pd.DataFrame(
        [
            {"auction_id": f"pha{a}", "community_id": f"phc{a % 6}"}
            for a in range(8)
        ]
    )


def ph_proposals_pdf() -> pd.DataFrame:
    """Proposals; auctions pha8/pha9 and communities phc4/phc5 never exist
    (the two HAS_PROPOSAL MATCH negatives); AUTHOR is unconditional."""
    return pd.DataFrame(
        [
            {
                "proposal_id": f"php{p}",
                "auction_id": f"pha{p % 10}",
                "community_id": f"phc{p % 6}",
                "address": D.wallet_address(p % 50),
            }
            for p in range(14)
        ]
    )


def ph_votes_pdf() -> pd.DataFrame:
    """Votes; proposals php14..php19 never exist (VOTED MATCH negatives);
    the duplicated first vote re-lands with a higher weight (the MERGE SET
    last-write restated as the deterministic max fold)."""
    rows = [
        {
            "address": D.wallet_address((v * 3 + 1) % 50),
            "proposal_id": f"php{v % 20}",
            "weight": 1 + v % 8,
            "direction": v % 2,
        }
        for v in range(30)
    ]
    dup = dict(rows[0])
    dup["weight"] += 3
    rows.append(dup)
    return pd.DataFrame(rows)


def threads_pdf() -> pd.DataFrame:
    """Twitter threads; every 9th handle re-lands upper-cased (toLower at
    the MATCH boundary, twitterThreads/cyphers.py:92-124)."""
    rows = []
    for t in range(25):
        handle = D.twitter_handle(t % 30)
        if t % 9 == 0:
            handle = handle.upper()
        rows.append(
            {
                "conversation_id": f"fconv{t % 6}",
                "handle": handle,
                "role": "author" if t % 5 == 0 else "reply",
            }
        )
    return pd.DataFrame(rows)


def ens_events_pdf() -> pd.DataFrame:
    """ENS registry events (registration/transfer/burn kinds,
    ens/cyphers.py:66-116); names reuse the registration keyspace."""
    kinds = ("registration", "registration", "transfer", "burn")
    return pd.DataFrame(
        [
            {
                "name": D.ens_name(e % N_ENS),
                "owner": D.wallet_address(e % 50),
                "to_address": D.wallet_address((e + 11) % 50),
                "tx_hash": "0x" + D._md5(f"fens{e}"),
                "block_number": 3000 + e,
                "kind": kinds[e % 4],
            }
            for e in range(24)
        ]
    )


def grant_tags_pdf() -> pd.DataFrame:
    """Grant tags; grants 8/9 were never ingested → their tag rows drop at
    the registry join (gitcoin/cyphers.py:94-110)."""
    return pd.DataFrame(
        [
            {
                "grant_id": f"grant{g % 10}",
                "label": ("DeFi", "NFT", "infra", "public goods")[g % 4],
            }
            for g in range(16)
        ]
    )


def bounties_pdf() -> pd.DataFrame:
    """Gitcoin bounties; b % 5 == 0 rows have no known wallet (NULL → no
    HAS_WALLET edge); b % 7 == 0 rows have no known owner (NULL → no
    IS_OWNER edge, gitcoin/cyphers.py:367-385); status cycles
    fulfilled/interested/open — 'open' rows emit neither engagement
    family."""
    return pd.DataFrame(
        [
            {
                "bounty_id": f"fb{b % 9}",
                "org_name": f"forg{b % 4}",
                "owner_id": None if b % 7 == 0 else f"fgh{(b * 2 + 1) % 7}",
                "user_id": f"fgh{b % 7}",
                "user_wallet": (
                    None if b % 5 == 0 else D.wallet_address((b * 3 + 4) % 50)
                ),
                "status": ("fulfilled", "interested", "open")[b % 3],
            }
            for b in range(20)
        ]
    )


def webhooks_pdf() -> pd.DataFrame:
    """Alchemy webhook watch-lists; the item label rides the kind column
    (alchemyWebhooks/cyphers.py:94-110)."""
    return pd.DataFrame(
        [
            {
                "webhook_id": f"fwh{k % 3}",
                "item_kind": "Wallet" if k % 2 == 0 else "Token",
                "address": (
                    D.wallet_address(k % 50)
                    if k % 2 == 0
                    else D.token_contract(k % D.N_TOKEN_ENTITIES)
                ),
            }
            for k in range(12)
        ]
    )


def incubators_pdf() -> pd.DataFrame:
    """Incubator seed dimension (publicGoods/cyphers.py:181 MATCH)."""
    return pd.DataFrame(
        [
            {"incubator": f"finc{k % 2}", "entity": f"forg{k % 4}"}
            for k in range(8)
        ]
    )


FEED_NAMES = (
    "transfers", "followers", "proposals", "votes", "space_members",
    "strategies", "grant_admins", "donations", "delegations", "deployments",
    "multisig_signers", "nfts", "nft_holdings", "moloch_daos",
    "moloch_members", "moloch_proposals", "moloch_votes", "loans", "repos",
    "grant_members", "websites", "platform_accounts",
    "locks", "ph_communities", "ph_auctions", "ph_proposals", "ph_votes",
    "threads", "ens_events", "grant_tags", "bounties", "webhooks",
    "incubators",
)


def feeds_pdf() -> dict[str, pd.DataFrame]:
    return {name: globals()[f"{name}_pdf"]() for name in FEED_NAMES}


def golden_feed_triples() -> set[tuple[str, str, str]]:
    """Driver-side pure-Python replay of every edge_rules rule over the
    feed fixtures — the analytic golden for the widened vocabulary."""
    rows: set[tuple[str, str, str]] = set()

    ded = {
        (r["from_address"], r["to_address"], r["tx_hash"])
        for r in transfers_pdf().to_dict("records")
    }
    for f, t, h in ded:
        rows.add((f"Wallet:{f}", "TRANSFERRED", f"Wallet:{t}"))
        rows.add((f"Wallet:{t}", "RECEIVED", f"Transaction:{h}"))

    for r in followers_pdf().to_dict("records"):
        h, f = r["handle"].lower(), r["follower"].lower()
        src, dst = (h, f) if r["list_kind"] == "following" else (f, h)
        rows.add((f"Twitter:{src}", "FOLLOWS", f"Twitter:{dst}"))

    props = proposals_pdf().to_dict("records")
    prop_ids = {r["proposal_id"] for r in props}
    for r in props:
        rows.add((f"Space:{r['space_id']}", "HAS_PROPOSAL", f"Proposal:{r['proposal_id']}"))
        rows.add((f"Wallet:{r['author']}", "AUTHOR", f"Proposal:{r['proposal_id']}"))
    for r in votes_pdf().to_dict("records"):
        if r["proposal_id"] in prop_ids:
            rows.add((f"Wallet:{r['voter']}", "VOTED", f"Proposal:{r['proposal_id']}"))
    for r in space_members_pdf().to_dict("records"):
        rows.add((f"Wallet:{r['address']}", "CONTRIBUTOR", f"Space:{r['space_id']}"))
    import re

    for r in strategies_pdf().to_dict("records"):
        if re.fullmatch(r"0x[a-fA-F0-9]{40}", r["token_address"]):
            rows.add((f"Space:{r['space_id']}", "HAS_STRATEGY", f"Token:{r['token_address']}"))

    admins = {(r["grant_id"], r["address"]) for r in grant_admins_pdf().to_dict("records")}
    for g, a in admins:
        rows.add((f"Wallet:{a}", "IS_ADMIN", f"Grant:{g}"))
    for r in donations_pdf().to_dict("records"):
        if (r["grant_id"], r["destination"]) in admins:
            rows.add((f"Wallet:{r['donor']}", "DONATION", f"Grant:{r['grant_id']}"))

    latest: dict[tuple[str, str], tuple[int, str, str]] = {}
    for r in delegations_pdf().to_dict("records"):
        key = (r["protocol"], r["delegator"])
        cand = (r["block_number"], r["tx_hash"], r["delegate"])
        if key not in latest or cand > latest[key]:
            latest[key] = cand
    for (_, delegator), (_, _, delegate) in latest.items():
        rows.add((f"Wallet:{delegator}", "DELEGATES_TO", f"Wallet:{delegate}"))

    for r in deployments_pdf().to_dict("records"):
        rows.add((f"Wallet:{r['deployer']}", "DEPLOYED", f"Contract:{r['contract_address']}"))
    for r in multisig_signers_pdf().to_dict("records"):
        rows.add((f"Wallet:{r['owner_address']}", "IS_SIGNER", f"Wallet:{r['multisig']}"))
        rows.add((f"Wallet:{r['creator']}", "IS_CREATOR", f"Wallet:{r['multisig']}"))
    for r in nfts_pdf().to_dict("records"):
        rows.add((f"Page:{r['article_url']}", "HAS_NFT", f"Nft:{r['nft_id']}"))
        rows.add((f"Wallet:{r['owner']}", "IS_OWNER", f"Nft:{r['nft_id']}"))
        rows.add(
            (f"Wallet:{r['funding_recipient']}", "IS_RECEIPIENT", f"Nft:{r['nft_id']}")
        )

    # delegation hub roles (same feed as DELEGATES_TO)
    for r in delegations_pdf().to_dict("records"):
        p = r["protocol"]
        rows.add((f"Entity:{p}", "HAS_DELEGATION", f"Delegation:{p}"))
        rows.add((f"Wallet:{r['delegator']}", "IS_DELEGATING", f"Delegation:{p}"))
        rows.add((f"Wallet:{r['delegate']}", "IS_DELEGATE", f"Delegation:{p}"))
        rows.add((f"Delegation:{p}", "USE_TOKEN", f"Token:{r['contract_address']}"))

    # NFT per-tokenId holdings: curr holders HOLDS_TOKEN, prev−curr rotate
    snaps: dict[str, set[tuple[str, str, str]]] = {"prev": set(), "curr": set()}
    for r in nft_holdings_pdf().to_dict("records"):
        if r["balance"] > 0:
            snaps[r["snapshot"]].add(
                (r["address"], r["contract_address"], r["token_id"])
            )
    for a, c, _ in snaps["curr"]:
        rows.add((f"Wallet:{a}", "HOLDS_TOKEN", f"Token:{c}"))
    for a, c, _ in snaps["prev"] - snaps["curr"]:
        rows.add((f"Wallet:{a}", "HELD_TOKEN", f"Token:{c}"))

    # DAOhaus moloch flow
    daos = {r["dao_id"]: r for r in moloch_daos_pdf().to_dict("records")}
    for d in daos.values():
        rows.add((f"Wallet:{d['summoner']}", "SUMMONER", f"Dao:{d['dao_id']}"))
        rows.add((f"Dao:{d['dao_id']}", "HAS_TOKEN", f"Token:{d['token_address']}"))
    for r in moloch_members_pdf().to_dict("records"):
        if r["dao_id"] in daos:
            rows.add((f"Wallet:{r['member']}", "IS_MEMBER", f"Dao:{r['dao_id']}"))
    mprops = {
        r["proposal_id"]: r for r in moloch_proposals_pdf().to_dict("records")
    }
    for r in mprops.values():
        pid = r["proposal_id"]
        if r["dao_id"] in daos:
            rows.add((f"Dao:{r['dao_id']}", "HAS_PROPOSAL", f"Proposal:{pid}"))
        rows.add((f"Wallet:{r['proposer']}", "AUTHOR", f"Proposal:{pid}"))
        if r["sponsor"]:
            rows.add((f"Wallet:{r['sponsor']}", "SPONSORED", f"Proposal:{pid}"))
        if r["processor"]:
            rows.add((f"Wallet:{r['processor']}", "EXECUTED", f"Proposal:{pid}"))
        rows.add((f"Wallet:{r['applicant']}", "IS_APPLICANT", f"Proposal:{pid}"))
        if r["tribute_offered"] > 0:
            rows.add((f"Wallet:{r['applicant']}", "IS_TRIBUTING", f"Proposal:{pid}"))
        if r["payment_requested"] > 0:
            rows.add((f"Proposal:{pid}", "IS_PAYING", f"Wallet:{r['applicant']}"))
    for r in moloch_votes_pdf().to_dict("records"):
        if r["proposal_id"] in mprops:
            rows.add(
                (f"Wallet:{r['voter']}", "VOTED", f"Proposal:{r['proposal_id']}")
            )
        if r["dao_id"] in daos:
            rows.add((f"Wallet:{r['voter']}", "IS_VOTER", f"Dao:{r['dao_id']}"))

    # NFTfi loans
    import re as _re

    for r in loans_pdf().to_dict("records"):
        lid = r["loan_id"]
        rows.add((f"Wallet:{r['borrower']}", "BORROWED", f"Loan:{lid}"))
        rows.add((f"Wallet:{r['lender']}", "LENT", f"Loan:{lid}"))
        rows.add((f"Token:{r['collateral_contract']}", "IS_COLLATERAL", f"Loan:{lid}"))
        if _re.fullmatch(r"0x[a-fA-F0-9]{40}", r["denomination_token"]):
            rows.add(
                (f"Token:{r['denomination_token']}", "IS_DENOMINATION", f"Loan:{lid}")
            )
        rows.add(
            (f"Wallet:{r['borrower']}", "BORROWER", f"Marketplace:{r['marketplace']}")
        )
        rows.add(
            (f"Wallet:{r['lender']}", "LENDER", f"Marketplace:{r['marketplace']}")
        )

    # Github repo roles (NULL handles drop, keys case-fold) + the
    # token-metadata HAS_REPOSITORY hop (NULL tokens drop)
    for r in repos_pdf().to_dict("records"):
        if r["token_address"] is not None:
            rows.add(
                (
                    f"Token:{r['token_address']}",
                    "HAS_REPOSITORY",
                    f"Repository:{r['full_name']}",
                )
            )
        if r["handle"] is None:
            continue
        rows.add(
            (
                f"Github:{r['handle'].lower()}",
                r["role"].upper(),
                f"Repository:{r['full_name']}",
            )
        )

    # Gitcoin team members (registry join) + profile-website domains
    grant_ids = {r["grant_id"] for r in grant_admins_pdf().to_dict("records")}
    for r in grant_members_pdf().to_dict("records"):
        if r["grant_id"] in grant_ids:
            rows.add(
                (f"GitcoinAccount:{r['user_id']}", "MEMBER_OF", f"Grant:{r['grant_id']}")
            )
    from urllib.parse import urlparse

    for r in websites_pdf().to_dict("records"):
        host = urlparse(r["website_url"]).netloc.lower()
        if host:
            rows.add(
                (f"Website:{r['website_url']}", "HAS_DOMAIN", f"Domain:{host}")
            )

    # platform-account HAS_ACCOUNT (follows rides as edge weight; the
    # edge itself exists regardless of follows — the property gate is a
    # WIC rule, not an ingest filter)
    for r in platform_accounts_pdf().to_dict("records"):
        rows.add(
            (
                f"Wallet:{r['address'].lower()}",
                "HAS_ACCOUNT",
                f"{r['platform']}:{r['account_id'].lower()}",
            )
        )

    # Unlock locks/keys
    for r in locks_pdf().to_dict("records"):
        lock, key = f"Nft:{r['lock_address']}", f"Nft:{r['key_address']}"
        rows.add((f"Wallet:{r['manager']}", "CREATED", lock))
        rows.add((lock, "HAS_KEY", key))
        rows.add((f"Wallet:{r['holder']}", "HOLDS", lock))
        rows.add((f"Wallet:{r['holder']}", "HOLDS", key))

    # PropHouse (MATCH joins vs the community/auction/proposal registries)
    import re as _re2

    ph_comm = {
        r["community_id"]: r["contract_address"]
        for r in ph_communities_pdf().to_dict("records")
    }
    for cid, tok in ph_comm.items():
        if _re2.fullmatch(r"0x[a-fA-F0-9]{40}", tok):
            rows.add((f"Entity:{cid}", "HAS_STRATEGY", f"Token:{tok}"))
            rows.add((f"Entity:{cid}", "HAS_TOKEN", f"Token:{tok}"))
    ph_aucs = {
        r["auction_id"]: r["community_id"]
        for r in ph_auctions_pdf().to_dict("records")
    }
    for aid, cid in ph_aucs.items():
        if cid in ph_comm:
            rows.add((f"Auction:{aid}", "HAS_AUCTION", f"Entity:{cid}"))
    ph_props = {
        r["proposal_id"]: r for r in ph_proposals_pdf().to_dict("records")
    }
    for pid, r in ph_props.items():
        if r["auction_id"] in ph_aucs:
            rows.add((f"Auction:{r['auction_id']}", "HAS_PROPOSAL", f"Proposal:{pid}"))
        rows.add((f"Wallet:{r['address']}", "AUTHOR", f"Proposal:{pid}"))
        if r["community_id"] in ph_comm:
            rows.add((f"Entity:{r['community_id']}", "HAS_PROPOSAL", f"Proposal:{pid}"))
    for r in ph_votes_pdf().to_dict("records"):
        if r["proposal_id"] in ph_props:
            rows.add((f"Wallet:{r['address']}", "VOTED", f"Proposal:{r['proposal_id']}"))

    # Twitter threads (handles case-fold)
    for r in threads_pdf().to_dict("records"):
        pred = "AUTHOR" if r["role"] == "author" else "REPLIED"
        rows.add(
            (f"Twitter:{r['handle'].lower()}", pred, f"Thread:{r['conversation_id']}")
        )

    # ENS registry events
    for r in ens_events_pdf().to_dict("records"):
        if r["kind"] == "registration":
            rows.add((f"Wallet:{r['owner']}", "REGISTERED", f"Ens:{r['name']}"))
            # entity→alias name edge (helpers/queries.py:170-183)
            rows.add((f"Ens:{r['name']}", "HAS_NAME", f"Alias:{r['name']}"))
        elif r["kind"] == "transfer":
            rows.add((f"Wallet:{r['owner']}", "TRANSFERRED", f"Wallet:{r['to_address']}"))
        else:
            rows.add((f"Wallet:{r['owner']}", "BURNED", f"Ens:{r['name']}"))

    # Gitcoin bounty surface (tags gated by the grant registry)
    for r in grant_tags_pdf().to_dict("records"):
        if r["grant_id"] in grant_ids:
            rows.add((f"Grant:{r['grant_id']}", "HAS_TAG", f"Tag:{r['label'].lower()}"))
    for r in bounties_pdf().to_dict("records"):
        rows.add((f"Entity:{r['org_name']}", "HAS_BOUNTY", f"Bounty:{r['bounty_id']}"))
        if r["owner_id"] is not None:
            rows.add((f"Github:{r['owner_id']}", "IS_OWNER", f"Bounty:{r['bounty_id']}"))
        if r["status"] == "fulfilled":
            rows.add((f"Github:{r['user_id']}", "HAS_FULLFILLED", f"Bounty:{r['bounty_id']}"))
        elif r["status"] == "interested":
            rows.add((f"Github:{r['user_id']}", "HAS_INTEREST", f"Bounty:{r['bounty_id']}"))
        if r["user_wallet"] is not None:
            rows.add((f"Github:{r['user_id']}", "HAS_WALLET", f"Wallet:{r['user_wallet']}"))

    # webhook watch-lists + incubator seeds
    for r in webhooks_pdf().to_dict("records"):
        rows.add(
            (
                f"{r['item_kind']}:{r['address'].lower()}",
                "IS_WATCHED_BY",
                f"Webhook:{r['webhook_id']}",
            )
        )
    for r in incubators_pdf().to_dict("records"):
        rows.add((f"Entity:{r['incubator']}", "INCUBATED", f"Entity:{r['entity']}"))
    return rows


# ---------------------------------------------------------------------------
# analytic goldens (driver-side replay of the manifest; test scale only)
# ---------------------------------------------------------------------------

def golden_mentions(n: int) -> pd.DataFrame:
    """Expected mentions(url, kind, value, n) for pages 0..n-1."""
    out = []
    for i in range(n):
        m = page_manifest(i)
        if m["empty"]:
            continue
        out.append((m["url"], "author", m["author_wallet"], 1))
        out.append((m["url"], "wallet", m["author_wallet"], 1))
        for h, c in m["twitter_refs"].items():
            out.append((m["url"], "twitter", h, c))
            out.append((m["url"], "url", f"https://twitter.com/{h}", c))
        if m["ens"]:
            out.append((m["url"], "ens", m["ens"], 1))
        if m["at_handle"]:
            out.append((m["url"], "handle", m["at_handle"], 1))
        if m["dict_alias"]:
            k = int(m["dict_alias"].removeprefix("token"))
            out.append((m["url"], "dict:token", f"tok{k}", 1))
    df = pd.DataFrame(out, columns=["url", "kind", "value", "n"])
    return df.groupby(["url", "kind", "value"], as_index=False)["n"].sum()


def golden_triples(n: int) -> pd.DataFrame:
    """Expected (subj, pred, obj) with subj/obj as 'Label:key' strings —
    the per-predicate P/R gate artifact (FIXTURES.md F8)."""
    rows: set[tuple[str, str, str]] = set()
    authored: dict[str, int] = {}
    pair_refs: dict[tuple[str, str], int] = {}
    for i in range(n):
        m = page_manifest(i)
        if m["empty"]:
            continue
        page, w = f"Page:{m['url']}", f"Wallet:{m['author_wallet']}"
        rows.add((w, "AUTHOR", page))
        authored[w] = authored.get(w, 0) + 1
        for h in m["twitter_refs"]:
            rows.add((page, "REFERENCES", f"Twitter:{h}"))
            pair_refs[(w, h)] = pair_refs.get((w, h), 0) + 1
        if m["ens"]:
            rows.add((page, "MENTIONS_ENS", f"Ens:{m['ens']}"))
        if m["at_handle"]:
            rows.add((page, "BIO_MENTIONED", f"Twitter:{m['at_handle']}"))
        if m["dict_alias"]:
            k = int(m["dict_alias"].removeprefix("token"))
            rows.add((page, "MENTIONS_ENTITY", f"Entity:tok{k}"))
    # wallet HAS_ALIAS ens (registrations)
    for k in range(N_ENS):
        rows.add(
            (f"Wallet:{D.wallet_address(k % N_WALLETS)}", "HAS_ALIAS", f"Ens:{D.ens_name(k)}")
        )
    # twitter HAS_ALIAS ens + BIO_MENTIONED (profiles)
    for k in range(N_HANDLES):
        if k % 2 == 0:
            rows.add((f"Twitter:{D.twitter_handle(k)}", "HAS_ALIAS", f"Ens:{D.ens_name(k)}"))
        if k % 3 == 0:
            rows.add(
                (
                    f"Twitter:{D.twitter_handle(k)}",
                    "BIO_MENTIONED",
                    f"Twitter:{D.twitter_handle((k + 1) % N_HANDLES)}",
                )
            )
    # HAS_ACCOUNT via 2-hop ens (wallet-ens + twitter-ens; k even, k < N_HANDLES)
    for k in range(0, N_HANDLES, 2):
        rows.add(
            (
                f"Wallet:{D.wallet_address(k % N_WALLETS)}",
                "HAS_ACCOUNT",
                f"Twitter:{D.twitter_handle(k)}",
            )
        )
    # HAS_ACCOUNT via scored author→references rule (count>3 AND prop>0.8)
    for (w, h), c in pair_refs.items():
        if c > REF_COUNT_THRESHOLD and c / authored[w] > REF_PROPORTION:
            rows.add((w, "HAS_ACCOUNT", f"Twitter:{h}"))
    # HAS_ACCOUNT: token entity ↔ twitter via dictionary handle
    # (accounts/cyphers.py:183-201)
    for r in D.alias_dict_rows():
        if r["handle"]:
            rows.add((f"Entity:{r['entity_id']}", "HAS_ACCOUNT", f"Twitter:{r['handle']}"))
    # HOLDS / HELD from the two balance snapshots
    for k in range(25, 75):
        rows.add(
            (
                f"Wallet:{D.wallet_address(k)}",
                "HOLDS",
                f"Token:{D.token_contract(k % D.N_TOKEN_ENTITIES)}",
            )
        )
    for k in range(0, 25):
        rows.add(
            (
                f"Wallet:{D.wallet_address(k)}",
                "HELD",
                f"Token:{D.token_contract(k % D.N_TOKEN_ENTITIES)}",
            )
        )
    # widened vocabulary: feed-rule edge families (operators/edge_rules.py)
    rows |= golden_feed_triples()
    return pd.DataFrame(sorted(rows), columns=["subj", "pred", "obj"])


def golden_text(n: int) -> pd.DataFrame:
    recs = []
    for i in range(n):
        m = page_manifest(i)
        recs.append({"url": m["url"], "text": expected_text(m)})
    return pd.DataFrame(recs)
