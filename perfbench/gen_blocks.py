"""Seeded generator of jsonParsed Solana block files for the ETL workloads.

Writes one `<slot>.json` file per produced slot into a directory, the layout
`graft.cli.Main --rpc-url <dir>` reads, and returns the ground truth the
output checks compare against. The program under test sees only the files.

The distributions are fixed; the seed only changes the draws:

- transaction intent: vote 30 %, SOL transfer 20 %, SPL token transfer 18 %,
  DEX swap 12 %, program interaction 10 %, NFT mint 5 %, unknown program 5 %;
- instruction encoding, per instruction: `programId` 70 %, `program` name
  only 15 % (parsed system/token instructions only), compiled
  `programIdIndex` 15 %;
- 3 % of transactions failed (`meta.err` set);
- 5 % of slots skipped (no file);
- 1 % of produced slots hold a malformed (truncated) block line;
- 1,000-1,400 transactions per block.

The expected class of each transaction is computed here from the encoded
instructions with the reference's priority rules, so a name-only or
compiled encoding is classified exactly as the engine should classify it.
"""

import argparse
import json
import os
import random

B58 = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
_B58_TABLE = bytes(ord(B58[b % 58]) for b in range(256))

SYSTEM = "11111111111111111111111111111111"
TOKEN = "TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA"
VOTE = "Vote111111111111111111111111111111111111111"
COMPUTE_BUDGET = "ComputeBudget111111111111111111111111111111"
MEMO = "MemoSq4gqABAXKb96qnH8TysNcWxMyWCqXgDLGmfcHr"
DEXES = ["JUP6LkbZbjS1jKKwapdHNy74zcZ3tLUZoi5QNyVTaV4",
         "whirLbMiicVdio4qvUfM5KAg6Ct8VwpYzGff3uctyCc",
         "675kPX9MHTjS2zt1qfr1NYHuzeLXfQM9H24wFSUt1Mp8"]
NFTS = ["metaqbxxUerdq28cj1RbAWkYQm3ybzjb6a8bt518x1s",
        "M2mx93ekt1fmXSVkTrUL9xVFHkmME8HTUi5Cyc5aF7K"]
UNKNOWN = ["Unk1" + "x" * 39, "Unk2" + "y" * 39, "Unk3" + "z" * 39]

# program_id -> program_type for the ids this generator emits; the seed rows
# of the engine's program registry. Anything absent has no type.
PROGRAM_TYPES = {
    SYSTEM: "System", COMPUTE_BUDGET: "System", TOKEN: "Token", MEMO: "Utility",
    DEXES[0]: "DEX", DEXES[1]: "DEX", DEXES[2]: "DEX",
    NFTS[0]: "NFT", NFTS[1]: "NFT",
}
PROGRAM_NAMES = {SYSTEM: "system", TOKEN: "spl-token"}

INTENTS = [("vote", 30), ("sol", 20), ("spl", 18), ("dex", 12),
           ("interact", 10), ("nft", 5), ("unknown", 5)]
ENCODINGS = [("id", 70), ("name", 15), ("index", 15)]
FAILED_SHARE = 0.03
SKIPPED_SHARE = 0.05
MALFORMED_SHARE = 0.01
TX_PER_BLOCK = (1000, 1400)
BLOCK_TIME_0 = 1_700_000_000

CLASSES = ["DEX Swap", "NFT Mint", "SPL Token Transfer", "SOL Transfer",
           "Program Interaction", "Unknown"]


def classify(program_ids):
    """The reference's priority tree (transform.rs:82-114) over program ids."""
    types = [PROGRAM_TYPES.get(p) for p in program_ids]
    if "DEX" in types:
        return "DEX Swap"
    if "NFT" in types:
        return "NFT Mint"
    if "Token" in types:
        return "SPL Token Transfer"
    if len(program_ids) == 1 and types[0] == "System":
        return "SOL Transfer"
    if "System" in types:
        return "Program Interaction"
    return "Unknown"


def _b58(rng, n, length):
    raw = rng.randbytes(n * length).translate(_B58_TABLE).decode("ascii")
    return [raw[i * length:(i + 1) * length] for i in range(n)]


class Gen:
    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.accounts = _b58(self.rng, 4000, 44)
        self.mints = _b58(self.rng, 40, 44)
        self.intents = [k for k, w in INTENTS for _ in range(w)]
        self.encodings = [k for k, w in ENCODINGS for _ in range(w)]

    def _ix(self, keys, program, parsed=None, accounts=()):
        """One instruction in a drawn encoding; appends to `keys` as needed.

        Returns (json text, the program id the engine resolves for it)."""
        enc = self.rng.choice(self.encodings)
        if enc == "name" and parsed is None or enc == "name" and program not in PROGRAM_NAMES:
            enc = "id"
        if enc == "index":
            keys.append(program)
            acc = json.dumps(list(accounts))
            return ('{"programIdIndex":%d,"data":"%s","accounts":%s}'
                    % (len(keys) - 1, self.rng.choice(self.accounts)[:12], acc), program)
        if parsed is not None:
            if enc == "name":
                return ('{"program":"%s","parsed":%s}' % (PROGRAM_NAMES[program], parsed),
                        PROGRAM_NAMES[program])
            name = PROGRAM_NAMES.get(program)
            prefix = '"program":"%s",' % name if name else ""
            return '{%s"programId":"%s","parsed":%s}' % (prefix, program, parsed), program
        return ('{"programId":"%s","data":"%s","accounts":%s}'
                % (program, self.rng.choice(self.accounts)[:16], json.dumps(list(accounts))),
                program)

    def _system_transfer(self, src, dst):
        return ('{"type":"transfer","info":{"lamports":%d,"source":"%s","destination":"%s"}}'
                % (self.rng.randrange(1, 10**10), src, dst))

    def _token_transfer(self, src, dst, auth):
        if self.rng.random() < 0.5:
            return ('{"type":"transfer","info":{"amount":"%d","source":"%s","destination":"%s",'
                    '"authority":"%s"}}' % (self.rng.randrange(1, 10**12), src, dst, auth))
        return ('{"type":"transferChecked","info":{"tokenAmount":{"amount":"%d","decimals":6},'
                '"mint":"%s","source":"%s","destination":"%s","authority":"%s"}}'
                % (self.rng.randrange(1, 10**12), self.rng.choice(self.mints), src, dst, auth))

    def transaction(self, signature):
        """Returns (json text, expected class, success, fee)."""
        rng = self.rng
        intent = rng.choice(self.intents)
        a, b, c = rng.sample(self.accounts, 3)
        keys = [a, b, c]
        ixs = []
        if intent == "vote":
            ixs.append(self._ix(keys, VOTE, accounts=(b, a)))
        elif intent == "sol":
            ixs.append(self._ix(keys, SYSTEM, self._system_transfer(a, b), (a, b)))
        elif intent == "spl":
            if rng.random() < 0.5:
                ixs.append(self._ix(keys, COMPUTE_BUDGET))
            ixs.append(self._ix(keys, TOKEN, self._token_transfer(b, c, a), (b, c, a)))
        elif intent == "dex":
            ixs.append(self._ix(keys, COMPUTE_BUDGET))
            ixs.append(self._ix(keys, rng.choice(DEXES), accounts=(a, b, c)))
            ixs.append(self._ix(keys, TOKEN, self._token_transfer(b, c, a), (b, c)))
        elif intent == "interact":
            ixs.append(self._ix(keys, SYSTEM,
                                '{"type":"createAccount","info":{"source":"%s","lamports":2039280}}' % a,
                                (a, b)))
            ixs.append(self._ix(keys, MEMO))
        elif intent == "nft":
            ixs.append(self._ix(keys, rng.choice(NFTS), accounts=(a, b)))
        else:
            ixs.append(self._ix(keys, rng.choice(UNKNOWN), accounts=(a,)))
        program_ids = list(dict.fromkeys(p for _, p in ixs))
        success = rng.random() >= FAILED_SHARE
        fee = 5000 + 5000 * rng.randrange(0, 3)
        err = "null" if success else '{"InstructionError":[0,{"Custom":%d}]}' % rng.randrange(1, 100)
        account_keys = ",".join(
            '{"pubkey":"%s","signer":%s,"writable":%s}'
            % (k, "true" if i == 0 else "false", "true" if i < 2 else "false")
            for i, k in enumerate(keys))
        text = ('{"meta":{"err":%s,"fee":%d},"transaction":{"signatures":["%s"],'
                '"message":{"accountKeys":[%s],"instructions":[%s]}}}'
                % (err, fee, signature, account_keys, ",".join(t for t, _ in ixs)))
        return text, classify(program_ids), success, fee


def generate(seed, out_dir, first_slot, n_slots):
    """Write the slot files for [first_slot, first_slot + n_slots) to out_dir.

    Returns the ground truth: {"slots": {slot: {...}}, "txs": [...]} where
    each produced slot records its parent, whether it is well formed and its
    transaction count, and each transaction of a well-formed block is
    (signature, slot, index, class, success, fee)."""
    gen = Gen(seed)
    rng = gen.rng
    os.makedirs(out_dir, exist_ok=True)
    slots = {}
    txs = []
    parent = first_slot - 1
    height = 100_000 + first_slot
    for slot in range(first_slot, first_slot + n_slots):
        # The first slot always exists, so every range has a start block.
        if slot != first_slot and rng.random() < SKIPPED_SHARE:
            continue
        n = rng.randint(*TX_PER_BLOCK)
        sigs = _b58(rng, n, 88)
        body = []
        block_txs = []
        for i, sig in enumerate(sigs):
            text, cls, ok, fee = gen.transaction(sig)
            body.append(text)
            block_txs.append((sig, slot, i, cls, ok, fee))
        blockhash = _b58(rng, 1, 44)[0]
        line = ('{"slot":%d,"blockhash":"%s","parentSlot":%d,"blockTime":%d,"blockHeight":%d,'
                '"transactions":[%s]}'
                % (slot, blockhash, parent, BLOCK_TIME_0 + slot * 2 // 5, height, ",".join(body)))
        malformed = slot != first_slot and rng.random() < MALFORMED_SHARE
        if malformed:
            line = line[: len(line) // 2]
        else:
            txs.extend(block_txs)
        with open(os.path.join(out_dir, "%d.json" % slot), "w") as f:
            f.write(line + "\n")
        slots[slot] = {"parent": parent, "well_formed": not malformed, "n_tx": n,
                       "blockhash": blockhash}
        parent = slot
        height += 1
    if len({t[0] for t in txs}) != len(txs):
        raise RuntimeError("generated signatures collide")
    return {"slots": slots, "txs": txs}


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--first-slot", type=int, default=1000)
    p.add_argument("--slots", type=int, default=20)
    a = p.parse_args()
    truth = generate(a.seed, a.out, a.first_slot, a.slots)
    print(json.dumps({"slots": len(truth["slots"]), "txs": len(truth["txs"])}))


if __name__ == "__main__":
    main()
