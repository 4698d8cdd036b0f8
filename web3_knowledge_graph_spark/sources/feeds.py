"""Deterministic source feeds for the widened edge vocabulary.

The reference grows its graph from many per-source scrape landings —
token transfers, Twitter follower lists, Snapshot governance spaces /
proposals / votes, Gitcoin grants + donations, delegation event streams,
contract deployments, multisig signer sets, Mirror article NFTs. Each
lands as dated CSV/JSON in S3 and is MERGEd edge-by-edge into Neo4j
(citations on each SQL text below). Here every feed is ONE SQL text
derived from the driver testdata tables (events / orders / customer),
valid in BOTH Spark SQL and DuckDB — the same trick as
``sources/pages.py``: both engines synthesize byte-identical feed rows,
so the Spark rule output can be hash-compared against a DuckDB oracle.

Only dual-dialect constructs appear: ``||``, md5, substr, CAST(.. AS
STRING), %, CASE WHEN. Wallet identities reuse the exact generator of
``PAGES_SQL`` (md5('w'||k%97)-style), so feed-derived edges share the
Wallet keyspace with page-mention edges — one connected graph, as in
the reference where every source resolves to the same :Wallet nodes.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

WALLET_MOD = 97  # must match sources/pages.py WALLET_MOD


def wallet_sql(expr: str) -> str:
    """The PAGES_SQL wallet generator: 40-hex address keyed by an integer
    SQL expression (already reduced mod WALLET_MOD by the caller)."""
    return (
        f"'0x' || md5('w' || CAST({expr} AS STRING))"
        f" || substr(md5('wx' || CAST({expr} AS STRING)), 1, 8)"
    )


_W_USER = wallet_sql(f"user_id % {WALLET_MOD}")

# --- token transfers (ingestion/tokenHolders/ingest.py:29-41 prepares the
# scrape; cyphers.py:55-70 MERGEs (from)-[TRANSFERRED]->(to); RECEIVED is
# helpers/queries.py:142-151). Purchase events become transfers; the
# (event_id - event_id % 2) basis makes consecutive purchase pairs share a
# tx hash WITHOUT sharing endpoints, and every third row is emitted twice
# upstream in spirit via the % 3 filter overlap — the rule must dedup on
# (from,to,hash) exactly as ingest.py:31 drop_duplicates does.
TRANSFERS_SQL = f"""
SELECT
  {_W_USER} AS from_address,
  {wallet_sql(f"(user_id + 1 + event_id % 13) % {WALLET_MOD}")} AS to_address,
  '0x' || md5('tx' || CAST(event_id - (event_id % 2) AS STRING)) AS tx_hash,
  '0x' || md5('tok' || CAST(event_id % 11 AS STRING)) AS contract_address,
  CAST(value AS DECIMAL(18,2)) AS amount
FROM events
WHERE event_type = 'purchase'
"""

# --- follower lists (postProcessing/twitterFollowers/cyphers.py:129-166:
# merge_followers_relationships emits follower->handle, and
# merge_following_relationships the handle->follower direction).
FOLLOWERS_SQL = f"""
SELECT
  'user_' || CAST(user_id % 41 AS STRING) AS handle,
  'user_' || CAST((user_id + 1 + event_id % 7) % 41 AS STRING) AS follower,
  CASE WHEN event_id % 3 = 0 THEN 'following' ELSE 'follower' END AS list_kind
FROM events
WHERE event_type = 'click'
"""

# --- Snapshot governance (ingestion/snapshot/ingest.py:100-217 shapes
# spaces/proposals/votes; cyphers.py:140-270 MERGEs HAS_PROPOSAL, AUTHOR,
# CONTRIBUTOR(member|admin), VOTED, HAS_STRATEGY). Proposals come from
# orders; the % 3 = 0 keys are withheld so votes on them are negatives the
# MATCH-join must drop.
PROPOSALS_SQL = f"""
SELECT
  'prop' || CAST(o_orderkey % 1000 AS STRING) AS proposal_id,
  'space' || CAST(o_orderkey % 8 AS STRING) || '.eth' AS space_id,
  {wallet_sql(f"o_custkey % {WALLET_MOD}")} AS author
FROM orders
WHERE o_orderkey < 1000 AND o_orderkey % 3 <> 0
"""

VOTES_SQL = f"""
SELECT
  '0x' || md5('v' || CAST(event_id AS STRING)) AS vote_id,
  {_W_USER} AS voter,
  'prop' || CAST((event_id * 7) % 1000 AS STRING) AS proposal_id
FROM events
WHERE event_type = 'view'
"""

SPACE_MEMBERS_SQL = f"""
SELECT
  'space' || CAST(c_custkey % 8 AS STRING) || '.eth' AS space_id,
  {wallet_sql(f"c_custkey % {WALLET_MOD}")} AS address,
  CASE WHEN c_custkey % 5 = 0 THEN 'admin' ELSE 'member' END AS member_type
FROM customer
WHERE c_custkey < 120
"""

# strategy params: rows where the address fails ^0x[40 hex]$ must be
# dropped (ingest.py:150-158 isAddress gate) — the % 4 = 0 rows carry a
# truncated 10-hex address as that negative.
STRATEGIES_SQL = """
SELECT
  'space' || CAST(c_custkey % 8 AS STRING) || '.eth' AS space_id,
  CASE WHEN c_custkey % 4 = 0
       THEN '0x' || substr(md5('tok' || CAST(c_custkey % 11 AS STRING)), 1, 10)
       ELSE '0x' || md5('tok' || CAST(c_custkey % 11 AS STRING)) END AS token_address
FROM customer
WHERE c_custkey < 40
"""

# --- Gitcoin grants (ingestion/gitcoin/cyphers.py:168-186 IS_ADMIN;
# :223-248 DONATION — note the rule: the donation joins its grant ONLY
# through (grant)<-[IS_ADMIN]-(wallet {address: donations.destination}),
# so a donation whose destination is not that grant's admin is dropped).
GRANT_ADMINS_SQL = f"""
SELECT
  'grant' || CAST(o_orderkey % 12 AS STRING) AS grant_id,
  {wallet_sql(f"(o_custkey * 13 + 2) % {WALLET_MOD}")} AS address
FROM orders
WHERE o_orderkey < 12
"""

# The valid branch keys the destination by the grant's ACTUAL admin (the
# o_custkey of the order that minted the grant — same generator as
# GRANT_ADMINS_SQL), so ~3/4 of donations survive the destination gate and
# heavy donors span >2 distinct grants: the GitcoinGrantDonor WIC context
# labels real rows at oracle scale. Negatives stay negatives two ways:
# event_id % 4 = 0 rows carry a junk destination, and donations to a
# grant id no order minted (the LEFT JOIN misses) never match an admin.
DONATIONS_SQL = f"""
SELECT
  '0x' || md5('don' || CAST(event_id AS STRING)) AS tx_hash,
  {_W_USER} AS donor,
  'grant' || CAST(event_id % 12 AS STRING) AS grant_id,
  CASE WHEN event_id % 4 = 0 OR ga.o_custkey IS NULL
       THEN {wallet_sql(f"(event_id * 17 + 5) % {WALLET_MOD}")}
       ELSE {wallet_sql(f"(ga.o_custkey * 13 + 2) % {WALLET_MOD}")} END
    AS destination,
  CAST(value AS DECIMAL(18,2)) AS amount
FROM events
LEFT JOIN (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey < 12) ga
  ON ga.o_orderkey = event_id % 12
WHERE event_type = 'error'
"""

# --- delegation changes (scraping/delegation/scrape.py:64-102 pulls
# delegateChanges ordered by blockNumber; cyphers.py:156-199: the current
# DELEGATES_TO edge is the LATEST change per (protocol, delegator) — older
# targets are detached. cyphers.py:110-127 IS_DELEGATING, :130-152
# IS_DELEGATE keep every participant linked to the protocol node.)
DELEGATIONS_SQL = f"""
SELECT
  CASE WHEN event_id % 2 = 0 THEN 'compound' ELSE 'uniswap' END AS protocol,
  {wallet_sql("user_id % 30")} AS delegator,
  {wallet_sql(f"(user_id + 3 + event_id % 11) % {WALLET_MOD}")} AS delegate,
  CAST(1000 + event_id AS BIGINT) AS block_number,
  '0x' || md5('dg' || CAST(event_id AS STRING)) AS tx_hash,
  '0x' || md5('tok' || CAST(event_id % 2 AS STRING)) AS contract_address
FROM events
WHERE event_type = 'purchase' AND event_id % 5 < 2
"""

# --- contract deployments (postProcessing/contractDeployers/cyphers.py:
# 43-60 MERGE (wallet)-[DEPLOYED {txHash}]->(contract)).
DEPLOYMENTS_SQL = f"""
SELECT
  '0x' || substr(md5('ct' || CAST(o_orderkey AS STRING)), 1, 32)
      || substr(md5('ctx' || CAST(o_orderkey AS STRING)), 1, 8) AS contract_address,
  {wallet_sql(f"(o_custkey * 3 + 7) % {WALLET_MOD}")} AS deployer,
  '0x' || md5('dep' || CAST(o_orderkey AS STRING)) AS tx_hash
FROM orders
WHERE o_orderkey % 40 = 0
"""

# --- multisig signers (ingestion/multisig/cyphers.py:46-57 MERGE
# (signer)-[IS_SIGNER]->(multisig); :60-70 link_multisig_creators MERGEs
# (creator)-[IS_CREATOR]->(multisig) — all endpoints :Wallet. The creator
# is functionally determined by the multisig (same deployer for every
# signer row of one safe), matching the scrape where creator comes from
# the safe's creation tx).
# 15 multisigs × 3 signers each (c, c+15, c+30 share a vault) — real safes
# have several signers, and the farmers cosigner-expansion rule
# (farmers/cyphers.py:115-137) needs co-signer pairs to walk
MULTISIG_SIGNERS_SQL = f"""
SELECT
  {wallet_sql(f"((c_custkey % 15) * 31 + 60) % {WALLET_MOD}")} AS multisig,
  {wallet_sql(f"(c_custkey * 4 + (c_custkey % 3)) % {WALLET_MOD}")} AS owner_address,
  {wallet_sql(f"((c_custkey % 15) * 23 + 11) % {WALLET_MOD}")} AS creator
FROM customer
WHERE c_custkey < 45
"""

# --- Mirror article NFTs (ingestion/mirror/cyphers.py:111-152:
# (article)-[HAS_NFT]->(nft) and (wallet)-[IS_OWNER]->(nft); article urls
# reuse the PAGES_SQL url generator so the NFT edges attach to the same
# Page nodes the mention edges use).
NFTS_SQL = f"""
SELECT
  'https://site' || CAST(o_orderkey % 20 AS STRING) || '.example/p/'
      || CAST(o_orderkey AS STRING) AS article_url,
  '0x' || md5('nft' || CAST(o_orderkey % 9 AS STRING)) || ':'
      || CAST(o_orderkey % 50 AS STRING) AS nft_id,
  {wallet_sql(f"(o_custkey * 11 + 2) % {WALLET_MOD}")} AS owner,
  {wallet_sql(f"(o_custkey * 19 + 3) % {WALLET_MOD}")} AS funding_recipient
FROM orders
WHERE o_orderkey % 25 = 0 AND o_orderkey < 2000
"""

# --- NFT per-tokenId holding snapshots (postProcessing/tokenHolders/
# cypher.py:57-76 link_or_merge_NFT_token_holding MERGEs
# (wallet)-[HOLDS_TOKEN {tokenId}]->(token); :28-41 zeroes current
# balances before re-merge and :118-150 rotates balance-0 edges to
# HELD_TOKEN). Wallet is keyed off o_orderkey % 322 so rows 161 apart
# share the FULL (wallet, contract, tokenId) key while landing in
# OPPOSITE snapshots (161 is odd, and 161 ≡ 0 mod both 7 and 23) — the
# rotation anti-join has real overlap to subtract. The % 11 = 0 rows
# carry balance 0 (a holder the latest scrape zeroed out): not a current
# holder, so its prev-snapshot twin rotates.
NFT_HOLDINGS_SQL = f"""
SELECT
  {wallet_sql(f"(o_orderkey % 322) % {WALLET_MOD}")} AS address,
  '0x' || md5('nftc' || CAST(o_orderkey % 7 AS STRING)) AS contract_address,
  CAST(o_orderkey % 23 AS STRING) AS token_id,
  CAST(CASE WHEN o_orderkey % 11 = 0 THEN 0
            ELSE 1 + o_orderkey % 3 END AS BIGINT) AS balance,
  CASE WHEN o_orderkey % 2 = 0 THEN 'prev' ELSE 'curr' END AS snapshot
FROM orders
WHERE o_orderkey < 600
"""

# --- DAOhaus moloch registry (ingestion/daohaus/cyphers.py:26-50 creates
# the Dao nodes; :190-207 SUMMONER; :370-388 HAS_TOKEN). Daos moloch0-5
# exist; proposal/member/vote rows referencing moloch6/7 are negatives the
# MATCH-join must drop.
MOLOCH_DAOS_SQL = f"""
SELECT
  'moloch' || CAST(c_custkey % 6 AS STRING) AS dao_id,
  {wallet_sql(f"(c_custkey * 7 + 1) % {WALLET_MOD}")} AS summoner,
  '0x' || md5('tok' || CAST(c_custkey % 11 AS STRING)) AS token_address
FROM customer
WHERE c_custkey < 6
"""

# --- moloch members (cyphers.py:336-360 IS_MEMBER {shares}); dao_id
# cycles 0-7 so the moloch6/7 rows are MATCH-drop negatives.
MOLOCH_MEMBERS_SQL = f"""
SELECT
  'moloch' || CAST(c_custkey % 8 AS STRING) AS dao_id,
  {wallet_sql(f"c_custkey % {WALLET_MOD}")} AS member,
  CAST(1 + c_custkey % 20 AS BIGINT) AS shares
FROM customer
WHERE c_custkey < 90
"""

# --- moloch proposals (cyphers.py:60-130 proposal nodes; :250-268 AUTHOR;
# :210-228 SPONSORED; :230-248 EXECUTED; :270-288 IS_APPLICANT; :288-308
# IS_PAYING; :310-330 IS_TRIBUTING; :391-408 HAS_PROPOSAL). NULL sponsor /
# processor rows restate unsponsored / unprocessed proposals (the
# reference stages them as separate CSVs; here one table with NULLs).
MOLOCH_PROPOSALS_SQL = f"""
SELECT
  'mprop' || CAST(o_orderkey AS STRING) AS proposal_id,
  'moloch' || CAST(o_orderkey % 8 AS STRING) AS dao_id,
  {wallet_sql(f"o_custkey % {WALLET_MOD}")} AS proposer,
  CASE WHEN o_orderkey % 3 = 0 THEN CAST(NULL AS STRING)
       ELSE {wallet_sql(f"(o_custkey + 5) % {WALLET_MOD}")} END AS sponsor,
  CASE WHEN o_orderkey % 4 = 0 THEN {wallet_sql(f"(o_custkey + 9) % {WALLET_MOD}")}
       ELSE CAST(NULL AS STRING) END AS processor,
  {wallet_sql(f"(o_custkey + 2) % {WALLET_MOD}")} AS applicant,
  CAST(o_orderkey % 5 AS DOUBLE) AS tribute_offered,
  CAST(o_orderkey % 7 AS DOUBLE) AS payment_requested
FROM orders
WHERE o_orderkey < 260
"""

# --- moloch votes (cyphers.py:140-165 VOTED MATCHes the proposal — an
# inner join, votes on never-ingested proposals drop; :167-188 IS_VOTER
# MATCHes the dao). proposal ids cycle to 400 while only < 260 exist.
MOLOCH_VOTES_SQL = f"""
SELECT
  'mvote' || CAST(event_id AS STRING) AS vote_id,
  'mprop' || CAST((event_id * 3) % 400 AS STRING) AS proposal_id,
  'moloch' || CAST(event_id % 8 AS STRING) AS dao_id,
  {_W_USER} AS voter,
  CAST(1 + user_id % 10 AS BIGINT) AS shares
FROM events
WHERE event_type = 'signup'
"""

# --- NFT-collateralized loans (ingestion/NFTfi/cyphers.py:51-58 BORROWED,
# :65-72 LENT, :79-88 IS_COLLATERAL {tokenId}, :93-103 IS_DENOMINATION —
# the denomination MATCHes a Token:ERC20 by address, restated as the same
# ^0x[40 hex]$ gate the strategy rule uses; % 6 = 0 rows carry a
# truncated 10-hex token as that negative). Collateral reuses the
# nft_holdings contract keyspace so loans attach to the same Token nodes.
# ``marketplace`` is the per-venue surface the traders analyzers MATCH
# ((wallet)-[:BORROWER|LENDER]->(:Marketplace {{name}}),
# analytics/wic/traders/cyphers.py:55-180) — x2y2 / paraspace /
# arcade.xyz / bend / nftfi.
LOANS_SQL = f"""
SELECT
  'loan' || CAST(o_orderkey AS STRING) AS loan_id,
  {wallet_sql(f"o_custkey % {WALLET_MOD}")} AS borrower,
  {wallet_sql(f"(o_custkey + 13) % {WALLET_MOD}")} AS lender,
  '0x' || md5('nftc' || CAST(o_orderkey % 7 AS STRING)) AS collateral_contract,
  CAST(o_orderkey % 23 AS STRING) AS collateral_token_id,
  CASE WHEN o_orderkey % 6 = 0
       THEN '0x' || substr(md5('tok' || CAST(o_orderkey % 11 AS STRING)), 1, 10)
       ELSE '0x' || md5('tok' || CAST(o_orderkey % 11 AS STRING)) END
    AS denomination_token,
  CASE o_orderkey % 5 WHEN 0 THEN 'nftfi' WHEN 1 THEN 'x2y2'
       WHEN 2 THEN 'paraspace' WHEN 3 THEN 'arcade.xyz'
       ELSE 'bend' END AS marketplace
FROM orders
WHERE o_orderkey % 3 = 1 AND o_orderkey < 540
"""

# --- Github repo links (postProcessing/github/cyphers.py:231-246 OWNER,
# :248-263 CONTRIBUTOR, :265-280 SUBSCRIBER — each gated by
# ``WHERE data.X IS NOT NULL``; the % 13 = 0 NULL-handle rows are that
# negative).
# token_address: the token-metadata social parser links a Token to its
# github Repository (postProcessing/tokenMetadata/process.py:152
# create_or_merge_socials(..., "HAS_REPOSITORY")); most repos have no
# token — the % 6 = 2 rows are the ones that do, the rest carry NULL and
# must emit no HAS_REPOSITORY edge.
# handle shares the bounty feed's ghuser keyspace so the HAS_WALLET link
# resolves repo contributors to wallets (developers/cyphers.py:55-70
# is_smart_contract_dev walks exactly that hop); description is keyed off
# full_name (c % 63 determines both) so the SmartContractDev keyword gate
# is unambiguous per repo — %7 ∈ {0,1,3,5} match a SC_DEV_DESC_KEYWORDS
# term, {2,4} are non-matching negatives, 6 is the NULL negative.
REPOS_SQL = """
SELECT
  'org' || CAST(c_custkey % 9 AS STRING) || '/repo'
      || CAST(c_custkey % 21 AS STRING) AS full_name,
  CASE WHEN c_custkey % 13 = 0 THEN CAST(NULL AS STRING)
       ELSE 'ghuser' || CAST(c_custkey % 29 AS STRING) END AS handle,
  CASE WHEN c_custkey % 3 = 0 THEN 'owner'
       WHEN c_custkey % 3 = 1 THEN 'contributor'
       ELSE 'subscriber' END AS role,
  CASE WHEN c_custkey % 6 = 2
       THEN '0x' || md5('tok' || CAST(c_custkey % 11 AS STRING))
       ELSE CAST(NULL AS STRING) END AS token_address,
  CASE WHEN (c_custkey % 63) % 7 = 0 THEN 'solidity library for amm pools'
       WHEN (c_custkey % 63) % 7 = 1 THEN 'smart contract audit playground'
       WHEN (c_custkey % 63) % 7 = 2 THEN 'indexer for onchain events'
       WHEN (c_custkey % 63) % 7 = 3 THEN 'truffle deployment scripts'
       WHEN (c_custkey % 63) % 7 = 4 THEN 'frontend for the dao'
       WHEN (c_custkey % 63) % 7 = 5 THEN 'erc20 token contract templates'
       ELSE CAST(NULL AS STRING) END AS description
FROM customer
WHERE c_custkey < 120
"""

# --- Gitcoin grant team members (ingestion/gitcoin/cyphers.py:139-160
# MEMBER_OF — MATCHes the grant, so members of never-ingested grants
# drop; grant ids cycle to 14 while the grant registry (grant_admins)
# only carries 0-11).
GRANT_MEMBERS_SQL = """
SELECT
  'grant' || CAST(c_custkey % 14 AS STRING) AS grant_id,
  'gcuser' || CAST(c_custkey % 33 AS STRING) AS user_id
FROM customer
WHERE c_custkey < 70
"""

# --- platform profile accounts (analytics/wic/creators/cyphers.py:35-47
# matches (wallet)-[:HAS_ACCOUNT]->(:Sound:Account) for Web3Musician and
# :49-63 (:Dune:Account) WHERE dune.follows > 0 for Web3DataAnalyst;
# analytics/wic/professionals/cyphers.py:10-32,60-90 fulltext-queries the
# wicBios index and links matched accounts to wallets over the same
# HAS_ACCOUNT hop; analytics/wic/influencers/cyphers.py:32-110 gates on
# Substack co-accounts, substack/newsletter/podcast bio and handle
# strings, and :111-130 walks the Twitter follower fan-in). One feed
# carries (address, platform, account_id, follows, bio): platform is the
# account node's label; follows and bio are account-node PROPERTIES in
# the reference, so both key off a per-row account identity —
# functionally determined per account, dedup-stable in both engines.
# Twitter accounts share the follower feed's user_N keyspace so FOLLOWS
# edges resolve to wallet-linked accounts (the TwitterInfluencer fan-in
# walk); two Twitter ids are keyword-bearing handles (the reference's
# ``twitter.handle contains`` arms); Substack carves the user_id%9=3
# bucket. Even-keyed Dune/Sound accounts carry follows = 0 (the negative
# the web3_data_analysts WHERE-gate must drop); bios cycle through
# phrase templates so every keyword class has positives AND non-matching
# fillers (12-13 are the influencers' newsletter/podcast bios).
#
# follows/bio key off _ACCT_KEY — the SAME per-platform modulus that
# mints account_id — so both properties ARE functionally determined per
# (platform, account_id), as the reference's single account node (MERGE
# last-write) requires; any consumer that dedups account properties per
# account reads the same value as the per-row engine.
_ACCT_KEY = (
    "(CASE WHEN user_id % 9 IN (0, 1, 2) THEN user_id % 61"
    " WHEN user_id % 9 = 3 THEN user_id % 23"
    " ELSE user_id % 41 END)"
)

PLATFORM_ACCOUNTS_SQL = f"""
SELECT
  {_W_USER} AS address,
  CASE WHEN user_id % 9 = 0 THEN 'Sound'
       WHEN user_id % 9 IN (1, 2) THEN 'Dune'
       WHEN user_id % 9 = 3 THEN 'Substack'
       ELSE 'Twitter' END AS platform,
  CASE WHEN user_id % 9 IN (0, 1, 2) THEN 'acct' || CAST(user_id % 61 AS STRING)
       WHEN user_id % 9 = 3 THEN 'sub' || CAST(user_id % 23 AS STRING)
       WHEN user_id % 41 = 7 THEN 'the_substack_digest'
       WHEN user_id % 41 = 9 THEN 'podcast_hour'
       ELSE 'user_' || CAST(user_id % 41 AS STRING) END AS account_id,
  CAST(CASE WHEN {_ACCT_KEY} % 2 = 0 THEN 0
            ELSE 1 + {_ACCT_KEY} % 5 END AS BIGINT) AS follows,
  CASE WHEN {_ACCT_KEY} % 14 = 0 THEN 'Co-Founder building onchain'
       WHEN {_ACCT_KEY} % 14 = 1 THEN 'investing in early teams at a venture capital firm'
       WHEN {_ACCT_KEY} % 14 = 2 THEN 'Marketing lead and brand storyteller'
       WHEN {_ACCT_KEY} % 14 = 3 THEN 'VP of Sales driving partnerships'
       WHEN {_ACCT_KEY} % 14 = 4 THEN 'Community Manager for the collective'
       WHEN {_ACCT_KEY} % 14 = 5 THEN 'DevRel / developer relations engineer'
       WHEN {_ACCT_KEY} % 14 = 6 THEN 'pre-seed angel; VC at heart'
       WHEN {_ACCT_KEY} % 14 = 7 THEN 'community lead, governance nerd'
       WHEN {_ACCT_KEY} % 14 = 8 THEN 'onchain data wizard'
       WHEN {_ACCT_KEY} % 14 = 12 THEN 'writes a crypto newsletter on substack'
       WHEN {_ACCT_KEY} % 14 = 13 THEN 'host of the onchain podcast show'
       ELSE 'web3 curious' END AS bio
FROM events
WHERE event_type = 'click' AND event_id % 3 = 0
"""

# --- twitter-profile websites (postProcessing/twitterRelations/
# cyphers.py:130-150: MERGE (website:Website {url})-[HAS_DOMAIN]->
# (domain:Domain {name}), domain = urlparse(url).netloc at
# process.py:55-73). address is the profile's wallet — the
# (wallet)-[:HAS_ACCOUNT]-(website:Website:Account) hop the influencers
# Podcaster url arm walks (influencers/cyphers.py:96-106); the %16=4
# rows carry a podcast path (same host — domain extraction unchanged).
WEBSITES_SQL = f"""
SELECT
  CASE
    WHEN c_custkey % 16 = 0 THEN
      'https://user' || CAST(c_custkey % 40 AS STRING)
        || '.example:8443/about'
    WHEN c_custkey % 16 = 8 THEN
      'https://alice@user' || CAST(c_custkey % 40 AS STRING)
        || '.example/about'
    WHEN c_custkey % 16 = 4 THEN
      'https://user' || CAST(c_custkey % 40 AS STRING)
        || '.example/podcasts/feed'
    ELSE
      'https://user' || CAST(c_custkey % 40 AS STRING) || '.example/about'
  END AS website_url,
  {wallet_sql(f"c_custkey % {WALLET_MOD}")} AS address
FROM customer
WHERE c_custkey % 4 = 0 AND c_custkey < 200
"""

# --- Unlock protocol locks/keys (ingestion/unlock/cyphers.py:27-58 lock +
# key nodes; :71-85 (manager)-[CREATED]->(lock); :88-105
# (lock)-[HAS_KEY]->(key); :108-124 (holder)-[HOLDS]->(lock) — note the
# reference quirk: the lock is MATCHed by holders.keyId; :127-140
# (holder)-[HOLDS]->(key)). One feed row carries the whole
# lock/key/manager/holder tuple; key contract is functionally determined
# by the lock.
LOCKS_SQL = f"""
SELECT
  '0x' || md5('lock' || CAST(o_orderkey % 10 AS STRING)) AS lock_address,
  '0x' || md5('lkey' || CAST(o_orderkey % 10 AS STRING)) AS key_address,
  {wallet_sql(f"(o_custkey * 5 + 3) % {WALLET_MOD}")} AS manager,
  {wallet_sql(f"(o_custkey * 9 + 4) % {WALLET_MOD}")} AS holder
FROM orders
WHERE o_orderkey % 30 = 2 AND o_orderkey < 1500
"""

# --- PropHouse (ingestion/propHouse/cyphers.py). Communities ph0-6 exist;
# auction/proposal rows referencing ph7/8 are MATCH-drop negatives. The
# community token carries the same truncated-hex trap the snapshot
# strategies use (% 5 = 0): the Token:ERC721 MATCH is restated as the
# 40-hex address gate.
PH_COMMUNITIES_SQL = """
SELECT
  'ph' || CAST(c_custkey AS STRING) AS community_id,
  CASE WHEN c_custkey % 5 = 0
       THEN '0x' || substr(md5('tok' || CAST(c_custkey % 11 AS STRING)), 1, 10)
       ELSE '0x' || md5('tok' || CAST(c_custkey % 11 AS STRING)) END
    AS contract_address
FROM customer
WHERE c_custkey < 7
"""

# auctions cycle community 0-8 (cyphers.py:101-113 HAS_AUCTION MATCHes the
# community — inner join, ph7/ph8 rows drop)
PH_AUCTIONS_SQL = """
SELECT
  'phauc' || CAST(o_orderkey AS STRING) AS auction_id,
  'ph' || CAST(o_orderkey % 9 AS STRING) AS community_id
FROM orders
WHERE o_orderkey % 35 = 3 AND o_orderkey < 1400
"""

# proposals: auction_id resolves to the PH_AUCTIONS keyspace (35j+3,
# j < 40) for j = o % 46 < 40 — the j ≥ 40 rows are the HAS_PROPOSAL
# auction-MATCH negatives; community_id cycles 0-8 with the same ph7/8
# negatives (cyphers.py:136-148 auction HAS_PROPOSAL; :150-162 AUTHOR
# (wallet MATCH always resolves — shared wallet keyspace); :165-177
# community HAS_PROPOSAL).
PH_PROPOSALS_SQL = f"""
SELECT
  'phprop' || CAST(o_orderkey AS STRING) AS proposal_id,
  'phauc' || CAST(35 * (o_orderkey % 46) + 3 AS STRING) AS auction_id,
  'ph' || CAST(o_orderkey % 9 AS STRING) AS community_id,
  {wallet_sql(f"o_custkey % {WALLET_MOD}")} AS address,
  CAST(o_orderkey % 3 = 0 AS BOOLEAN) AS winner
FROM orders
WHERE o_orderkey % 11 = 5 AND o_orderkey < 800
"""

# votes MATCH their proposal (cyphers.py:193-206) — ids cycle the whole
# mod-800 space while proposals only exist at % 11 = 5, so most votes are
# the MATCH-drop negative; weight rides onto the VOTED edge property.
PH_VOTES_SQL = f"""
SELECT
  {_W_USER} AS address,
  'phprop' || CAST((event_id * 11) % 800 AS STRING) AS proposal_id,
  CAST(1 + event_id % 10 AS BIGINT) AS weight,
  CAST(event_id % 2 AS BIGINT) AS direction
FROM events
WHERE event_type = 'purchase' AND event_id % 4 = 1
"""

# --- Twitter thread scrape (postProcessing/twitterThreads/cyphers.py:
# 92-105 (account)-[AUTHOR]->(thread); :108-124 (account)-[REPLIED]->
# (thread); handles lowercased at the MATCH boundary). Handles reuse the
# follower-list keyspace so threads attach to the same Twitter nodes.
THREADS_SQL = """
SELECT
  'conv' || CAST(event_id % 57 AS STRING) AS conversation_id,
  'User_' || CAST(user_id % 41 AS STRING) AS handle,
  CASE WHEN event_id % 6 = 0 THEN 'author' ELSE 'reply' END AS role
FROM events
WHERE event_type = 'view' AND event_id % 6 < 2
"""

# --- ENS registry events (ingestion/ens/cyphers.py:66-81 REGISTERED
# {txHash}; :84-99 (from)-[TRANSFERRED {txHash, type:'ENS'}]->(to); :101-116
# BURNED {txHash}). One dated event stream with a kind discriminator —
# the reference lands three CSVs from the same subgraph scrape.
ENS_EVENTS_SQL = f"""
SELECT
  'name' || CAST(user_id % 50 AS STRING) || '.eth' AS name,
  {_W_USER} AS owner,
  {wallet_sql(f"(user_id + 7) % {WALLET_MOD}")} AS to_address,
  '0x' || md5('ens' || CAST(event_id AS STRING)) AS tx_hash,
  CAST(2000 + event_id AS BIGINT) AS block_number,
  CASE WHEN event_id % 5 < 3 THEN 'registration'
       WHEN event_id % 5 = 3 THEN 'transfer'
       ELSE 'burn' END AS kind
FROM events
WHERE event_type = 'signup' AND event_id % 3 = 1
"""

# --- Gitcoin grant tags (ingestion/gitcoin/cyphers.py:94-110 HAS_TAG —
# MATCHes the grant, so tags on never-ingested grants (ids 12/13) drop;
# the Tag node side is created from the same CSV just before linking).
GRANT_TAGS_SQL = """
SELECT
  'grant' || CAST(c_custkey % 14 AS STRING) AS grant_id,
  CASE WHEN c_custkey % 4 = 0 THEN 'DeFi'
       WHEN c_custkey % 4 = 1 THEN 'NFT'
       WHEN c_custkey % 4 = 2 THEN 'infra'
       ELSE 'public goods' END AS label
FROM customer
WHERE c_custkey < 56
"""

# --- Gitcoin grant registry titles (ingestion/gitcoin/cyphers.py:30-52
# create_or_merge_grants sets grant.title from the ingest CSV; the
# analytics side fulltext-queries it as the grantTitle index,
# analytics/wic/interests/cyphers.py:119-130). Same id space + row gate
# as GRANT_ADMINS_SQL so every registered grant has exactly one title;
# titles cycle keyword-bearing and keyword-free forms so the grantTitle
# arms have positives AND non-matching fillers.
GRANT_REGISTRY_SQL = """
SELECT DISTINCT
  'grant' || CAST(o_orderkey % 12 AS STRING) AS grant_id,
  CASE o_orderkey % 12
    WHEN 0 THEN 'Open data tooling commons'
    WHEN 1 THEN 'Stream archive preservation'
    WHEN 2 THEN 'Dup detection research'
    WHEN 3 THEN 'Order flow transparency'
    WHEN 4 THEN 'Public weather stations'
    WHEN 5 THEN 'Vector index commons'
    WHEN 6 THEN 'Community translation fund'
    WHEN 7 THEN 'Value accrual studies'
    WHEN 8 THEN 'Open hardware lab'
    WHEN 9 THEN 'Data availability layer'
    WHEN 10 THEN 'Civic archive collective'
    ELSE 'Mirror nodes network'
  END AS title
FROM orders
WHERE o_orderkey < 12
"""

# --- Gitcoin bounties (ingestion/gitcoin/cyphers.py:322-345
# (org entity)-[HAS_BOUNTY]->(bounty); :453-475 (github user)
# -[HAS_FULLFILLED]->(bounty); :538-555 HAS_INTEREST; org/bounty/user
# nodes are created by the same ingest run immediately before linking).
# user_wallet restates the out-of-band (Github)-[HAS_WALLET]->(Wallet)
# link the accounts/wic stages MATCH (accounts/cyphers.py:57,
# publicGoods/cyphers.py:118) — created outside this repo in the
# reference; the % 7 = 0 rows carry NULL (no known wallet → no edge).
BOUNTIES_SQL = f"""
SELECT
  'bounty' || CAST(o_orderkey % 90 AS STRING) AS bounty_id,
  'org' || CAST(o_orderkey % 9 AS STRING) AS org_name,
  'ghuser' || CAST((o_orderkey * 3 + 1) % 29 AS STRING) AS owner_id,
  'ghuser' || CAST(o_custkey % 29 AS STRING) AS user_id,
  CASE WHEN o_custkey % 7 = 0 THEN CAST(NULL AS STRING)
       ELSE {wallet_sql(f"(o_custkey * 17 + 6) % {WALLET_MOD}")} END AS user_wallet,
  CASE WHEN o_orderkey % 3 = 0 THEN 'fulfilled'
       WHEN o_orderkey % 3 = 1 THEN 'interested'
       ELSE 'open' END AS status
FROM orders
WHERE o_orderkey % 13 = 4 AND o_orderkey < 1300
"""

# --- Alchemy webhook watch-lists (postProcessing/alchemyWebhooks/
# cyphers.py:94-110 connect_items_to_webhook: MERGE (item:Wallet|Token)
# -[IS_WATCHED_BY]->(webhook); addresses arrive lowercased).
WEBHOOKS_SQL = f"""
SELECT
  'wh' || CAST(c_custkey % 5 AS STRING) AS webhook_id,
  CASE WHEN c_custkey % 2 = 0 THEN 'Wallet' ELSE 'Token' END AS item_kind,
  CASE WHEN c_custkey % 2 = 0
       THEN {wallet_sql(f"c_custkey % {WALLET_MOD}")}
       ELSE '0x' || md5('tok' || CAST(c_custkey % 11 AS STRING)) END AS address
FROM customer
WHERE c_custkey < 50
"""

# --- incubator seed dimension ((incubator:Entity)-[INCUBATED]->(entity):
# MATCHed by analytics/wic/publicGoods/cyphers.py:181; the edge itself is
# seeded out-of-band in the reference — restated as a deterministic seed
# feed). Both endpoints live in the PropHouse community-entity keyspace
# ('Entity:ph*') because the reference's Incubator rules walk the
# incubator's/incubatee's OWN proposals (publicGoods/cyphers.py:163-191:
# member = voted on a paradigm incubator's proposal, participant = voted
# on an incubated entity's proposal) — ph0-2 incubate ph3-8, where ph7/8
# have no proposals (the MATCH-drop negatives).
INCUBATORS_SQL = """
SELECT
  'ph' || CAST(c_custkey % 3 AS STRING) AS incubator,
  'ph' || CAST(3 + (c_custkey % 6) AS STRING) AS entity
FROM customer
WHERE c_custkey < 27
"""


ALL_FEEDS: dict[str, str] = {
    "transfers": TRANSFERS_SQL,
    "followers": FOLLOWERS_SQL,
    "proposals": PROPOSALS_SQL,
    "votes": VOTES_SQL,
    "space_members": SPACE_MEMBERS_SQL,
    "strategies": STRATEGIES_SQL,
    "grant_admins": GRANT_ADMINS_SQL,
    "donations": DONATIONS_SQL,
    "delegations": DELEGATIONS_SQL,
    "deployments": DEPLOYMENTS_SQL,
    "multisig_signers": MULTISIG_SIGNERS_SQL,
    "nfts": NFTS_SQL,
    "nft_holdings": NFT_HOLDINGS_SQL,
    "moloch_daos": MOLOCH_DAOS_SQL,
    "moloch_members": MOLOCH_MEMBERS_SQL,
    "moloch_proposals": MOLOCH_PROPOSALS_SQL,
    "moloch_votes": MOLOCH_VOTES_SQL,
    "loans": LOANS_SQL,
    "repos": REPOS_SQL,
    "grant_members": GRANT_MEMBERS_SQL,
    "websites": WEBSITES_SQL,
    "platform_accounts": PLATFORM_ACCOUNTS_SQL,
    "locks": LOCKS_SQL,
    "ph_communities": PH_COMMUNITIES_SQL,
    "ph_auctions": PH_AUCTIONS_SQL,
    "ph_proposals": PH_PROPOSALS_SQL,
    "ph_votes": PH_VOTES_SQL,
    "threads": THREADS_SQL,
    "ens_events": ENS_EVENTS_SQL,
    "grant_tags": GRANT_TAGS_SQL,
    "grant_registry": GRANT_REGISTRY_SQL,
    "bounties": BOUNTIES_SQL,
    "webhooks": WEBHOOKS_SQL,
    "incubators": INCUBATORS_SQL,
}


def _register_views(spark, sf_dir: str) -> None:
    for t in ("events", "orders", "customer"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def feed(spark, sf_dir: str, name: str):
    """Spark-side feed: evaluate the shared SQL over the sf_dir tables."""
    _register_views(spark, sf_dir)
    return spark.sql(ALL_FEEDS[name])


def all_feeds(spark, sf_dir: str) -> tuple:
    """Every feed with ONE view registration, over persist()-materialized
    base tables: the 22 feed SQLs collectively scan events/orders/customer
    ~22×, and with plain parquet views each scan re-reads the file and
    re-plans (measured 12.4 s cold for the full feed-rule union at
    sf0.1/8 cores); materializing the three base tables once (~1.1 s)
    drops that to 4.5 s. The three materializations are independent jobs —
    run them on a thread pool so the scheduler interleaves their stages
    (serial they cost ~3.3 s of the feed path's wall; interleaved ~1.3 s).
    persist (not localCheckpoint) so the caller can UNPERSIST the bases
    once its own downstream materialization holds the data — returns
    (feeds dict, base-table handles) for exactly that cleanup. On failure
    every base persisted so far is unpersisted before the re-raise.
    ``feed()`` (single-feed driver queries) keeps plain views — an eager
    3-table materialization would cost more than the one query it serves."""
    bases: list = []

    def _persist(t: str):
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet").persist()
        bases.append(df)
        df.count()
        return df

    tables, names = ("events", "orders", "customer"), list(ALL_FEEDS)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            # list(): all three persist before any view is registered
            for t, df in zip(tables, list(pool.map(_persist, tables))):
                df.createOrReplaceTempView(t)
            # spark.sql() analyzes eagerly — 22 serial py4j round-trips
            # through the analyzer measured ~3-4 s of the cold feed path.
            # The analyses are independent (read-only against the three
            # views registered above), so they run on the pool too; dict
            # insertion order is restored from ALL_FEEDS so downstream
            # plan shape is unchanged.
            dfs = list(pool.map(lambda n: spark.sql(ALL_FEEDS[n]), names))
    except BaseException:
        # leaving the pool joined every worker, so bases is complete
        for df in bases:
            df.unpersist()
        raise
    return dict(zip(names, dfs)), bases


def feed_cte(*names: str) -> str:
    """DuckDB oracle prologue: WITH <name> AS (…), … for the given feeds
    (the driver pre-registers events/orders/customer as views)."""
    parts = [f"{n} AS ({ALL_FEEDS[n]})" for n in names]
    return "WITH " + ",\n".join(parts)
