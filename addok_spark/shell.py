"""Interactive shell over a built index (≙ the reference's REPL,
``/root/reference/addok/shell.py`` — same command surface recast over
the serving tier: ``LocalSearchEngine`` answers searches and its
``ParquetIndex`` the introspection commands, so no Spark session is
needed; ``explain_search`` below is shared with ``python -m addok_spark
explain``).

Commands (case-insensitive; anything else is a SEARCH):
    <free text>            search the index
    EXPLAIN <q>            search + token groups, candidates and timing
    BUCKET <q>             search returning the WHOLE collected bucket
    BENCH [n] <q>          repeat a search n times (default 10), p50/p95
    INTERSECT <toks> [LIMIT n]  raw conjunctive Σboost top-n (≙ zinter)
    PAIR <token>           tokens co-occurring with token (p| set view)
    BESTSCORE <word>       top docs of a token by posting boost
    GET <conv_id> <turn>   fetch one document by natural key
    STRDISTANCE <a>|<b>    string comparison score (≙ compare_str)
    TOKENIZE <q>           analyzer output (fold + synonyms + tokens)
    FUZZY <word>           edit-1 neighbors in reference emission order
    FREQ <token> [...]     document frequency of token(s)
    AUTOCOMPLETE [on|off]  toggle last-token prefix expansion
    FILTERS [json|off]     set session filters, e.g. {"role": ["user"]}
    K <n>                  result count per query
    DBINFO                 index stats (≙ shell DBINFO)
    DBKEY <key>            raw index key view: w|tok p|tok f|col|val d|id
    INDEX <conv_id> <turn> per-token boost + posting rank for one doc
    CONFIG [name]          inspect engine config (all keys or one)
    HELP                   this help
    QUIT / EXIT            leave

One LocalSearchEngine is reused across commands, so repeat queries
are warm (its posting, doc and plan caches persist).
"""

from __future__ import annotations

import json
import shlex
import time


HELP = __doc__.split("Commands", 1)[1]


def explain_search(engine, res) -> dict:
    """EXPLAIN view of the query a ``LocalSearchEngine`` just answered
    with the frame ``res`` (≙ the reference shell's EXPLAIN,
    addok/shell.py:282-327): the spec plan's token groups with their
    kind and df, the number of collected candidates, the search's
    trace entry — which times the executed query, collection, scoring
    and doc fetch included — and the results."""
    from .query.engine import FILTER_GID_BASE

    plan = engine.last_plan
    return {
        "groups": [
            {
                "gid": gid,
                "kind": "filter" if gid >= FILTER_GID_BASE else (
                    "meaningful" if gid in plan.meaningful else "common"
                ),
                "tokens": toks,
                "df": plan.group_dfs.get(gid),
            }
            for gid, toks in sorted(plan.groups.items())
        ],
        "candidates": len(plan.candidates),
        "stages": [{"stage": "search", **e} for e in engine.last_trace],
        "results": [
            {"rank": int(r["rank"]), "conv_id": r["conv_id"],
             "turn_idx": int(r["turn_idx"]), "score": float(r["score"])}
            for r in res.to_dict("records")
        ],
    }


class Shell:
    def __init__(self, index_dir: str, cfg):
        from .serving.local import FastSearch, LocalSearchEngine

        self.cfg = cfg
        self.engine = LocalSearchEngine(index_dir, cfg)
        self.index = self.engine.index
        # INTERSECT runs the collection kernel alone
        self.searcher = FastSearch(self.index, cfg)
        self.index_dir = index_dir
        self.autocomplete = False
        self.filters: dict[str, list[str]] = {}
        self.k = 10
        self.qid = 0

    # -- search-line grammar (≙ reference shell.py:146-205) ------------------
    @staticmethod
    def _match_option(key: str, string: str):
        """One ``KEY value`` / ``KEY=value`` occurrence removed from
        the line (hardened vs the reference's findall+replace: the
        key must start at a word boundary so 'PAROLE officer' is not
        a ROLE filter, only the matched span is removed so a value
        containing the key survives, and a bare trailing key is left
        as search text)."""
        import re

        m = re.search(r"(?<!\w){}[= ]([^ ]*)".format(re.escape(key)), string)
        if not m or not m.group(1):
            return string.strip(), None
        return (
            (string[: m.start()] + string[m.end():]).strip(),
            m.group(1),
        )

    def _parse_filters(self, query: str):
        """Inline ``ROLE user`` / ``TOOL bash`` filter tokens in a
        SEARCH line; repetition (``ROLE a ROLE b``) and pipe
        separator (``ROLE a|b``) both OR (≙ reference
        _parse_filters, shell.py:155-205)."""
        filters: dict[str, list[str]] = {}
        for name in self.cfg.filter_fields:
            values: list[str] = []
            while True:
                query, v = self._match_option(name.upper(), query)
                if v is None:
                    break
                # empty segments from doubled separators (a||b) are
                # ignored, values whitespace-stripped (≙ reference
                # shell.py separator handling)
                values.extend(s for s in (x.strip() for x in v.split("|")) if s)
            if values:
                filters[name] = values
        return query, filters

    # -- commands -----------------------------------------------------------
    def do_search(self, q: str, explain: bool = False) -> str:
        from .query.engine import Query

        self.qid += 1
        qid = f"sh{self.qid}"
        # inline options override session state for this query only;
        # a non-numeric or missing value leaves the word as search
        # text ('RATE LIMIT exceeded' is a query, not an option)
        k, autocomplete = self.k, self.autocomplete
        if "AUTOCOMPLETE" in q:
            q2, v = self._match_option("AUTOCOMPLETE", q)
            if v is not None and v.isdigit():
                q, autocomplete = q2, bool(int(v))
        if "LIMIT" in q:
            q2, v = self._match_option("LIMIT", q)
            if v is not None and v.isdigit():
                q, k = q2, int(v)
        q, inline_filters = self._parse_filters(q)
        # per-field merge: an inline ROLE overrides the session's
        # role filter but leaves other session filters standing
        # (same per-option semantics as LIMIT / AUTOCOMPLETE)
        filters = {**self.filters, **inline_filters}
        t0 = time.time()
        res = self.engine.search(
            [Query(qid=qid, q=q, k=k,
                   autocomplete=autocomplete, filters=filters)]
        )
        dt = time.time() - t0
        out = [
            f"{r['rank']:>3}  {r['score']:.4f}  "
            f"{r['conv_id']}#{r['turn_idx']} [{r['role']}] {r['text'][:90]}"
            for r in res.to_dict("records")
        ]
        out.append(f"({len(res)} hits in {dt:.2f}s)")
        if explain:
            info = explain_search(self.engine, res)
            for g in info["groups"]:
                out.append(
                    f"  group {g['gid']} [{g['kind']}] df={g['df']} "
                    f"tokens={g['tokens']}"
                )
            out.append(f"  candidates: {info['candidates']}")
            for stage in info["stages"]:
                out.append(f"  {json.dumps(stage)}")
        return "\n".join(out)

    def do_tokenize(self, q: str) -> str:
        from .functions.text import analyze_str, fold_str

        return (
            f"folded: {fold_str(q)}\n"
            f"tokens: {analyze_str(q, self.cfg.synonyms, self.cfg.processors)}"
        )

    def do_fuzzy(self, word: str) -> str:
        from .functions.text import make_fuzzy_str

        return str(make_fuzzy_str(word.strip(), self.cfg.fuzzy_key_map))

    def do_freq(self, arg: str) -> str:
        return "\n".join(
            f"{t}: df={self.index.df.get(t, 0)}" for t in shlex.split(arg)
        )

    def do_intersect(self, arg: str) -> str:
        """Raw conjunctive Σboost top-n over exact tokens, bypassing
        planning/relaxation (≙ shell INTERSECT → ZINTERSTORE +
        ZREVRANGE, reference shell.py:291-307): the search flow's
        collection kernel on singleton groups, without manual scan."""
        import re

        from .functions.text import analyze_str

        limit = 100
        m = re.search(r"\s+LIMIT\s+(\d+)\s*$", arg, re.I)
        if m:
            limit = int(m.group(1))
            arg = arg[: m.start()]
        toks = list(dict.fromkeys(
            analyze_str(arg, self.cfg.synonyms, self.cfg.processors)
        ))
        if not toks:
            return "(no tokens)"
        t0 = time.time()
        groups = {g: [t] for g, t in enumerate(toks)}
        dfs = {g: self.index.df.get(t, 0) for g, t in enumerate(toks)}
        ids = self.searcher.run_gids(
            groups, dfs, sorted(groups), limit, use_scan=False
        )
        # Σ boost in gid order, the kernel's accumulation order: one
        # gather per token over the returned docs
        ids_sorted = sorted(ids)
        prescores = dict(zip(ids_sorted, sum(
            self.index.tf_boost_many(t, ids_sorted)[1] for t in toks
        ).tolist()))
        out = []
        for rn, d in enumerate(ids, 1):
            prescore = prescores[d]
            doc = self.index.doc(d)
            out.append(
                f"{rn:>3}  {prescore:.4f}  {doc['conv_id']}#{doc['turn_idx']} "
                f"{(doc['text'] or '')[:80]}"
            )
        out.append(f"({len(ids)} in {time.time() - t0:.2f}s)")
        return "\n".join(out)

    def do_pair(self, token: str) -> str:
        """Tokens co-occurring with ``token`` (≙ inspecting the p|
        set): ``cooc`` over the dictionary's tokens, so commons are
        excluded by design."""
        from .functions.text import analyze_str

        toks = analyze_str(token, self.cfg.synonyms, self.cfg.processors)
        if not toks:
            return "(no token)"
        t = toks[0]
        others = sorted(u for u in self.index.df if self.index.cooc(t, u))
        return f"{t}: {len(others)} pairs\n" + ", ".join(others[:100])

    def do_bestscore(self, word: str) -> str:
        """Top docs of one token by posting boost (≙ BESTSCORE →
        ZREVRANGE WITHSCORES, reference shell.py:469-476)."""
        from .functions.text import analyze_str

        toks = analyze_str(word, self.cfg.synonyms, self.cfg.processors)
        if not toks:
            return "(no token)"
        t = toks[0]
        posts = sorted(
            self.index.postings(t).items(), key=lambda kv: (-kv[1], kv[0])
        )[:20]
        if not posts:
            return f"{t}: no postings"
        out = []
        for d, boost in posts:
            doc = self.index.doc(d)
            out.append(
                f"{boost:.4f}  {doc['conv_id']}#{doc['turn_idx']} "
                f"{(doc['text'] or '')[:80]}"
            )
        return "\n".join(out)

    def do_get(self, arg: str) -> str:
        """One document by natural key (≙ GET, shell.py:421-430)."""
        parts = shlex.split(arg)
        if len(parts) != 2:
            return "usage: GET <conv_id> <turn_idx>"
        row = self.engine.get(parts[0], int(parts[1]))
        if row is None:
            return f'id "{arg}" not found'
        return "\n".join(f"{k} {v}" for k, v in row.items())

    def do_strdistance(self, arg: str) -> str:
        """≙ STRDISTANCE (shell.py:523-532): compare_str on the two
        |-separated strings."""
        from .functions.text import compare_str

        parts = arg.split("|")
        if len(parts) != 2:
            return "Malformed string. Use | between the two strings."
        return str(compare_str(parts[0], parts[1]))

    def do_bench(self, arg: str) -> str:
        """≙ BENCH (shell.py:282-289): repeat a search, report p50/p95."""
        from .query.engine import Query

        parts = arg.split(None, 1)
        count, q = 10, arg
        if parts and parts[0].isdigit():
            count, q = int(parts[0]), (parts[1] if len(parts) > 1 else "")
        if not q.strip():
            return "usage: BENCH [n] <query>"
        times = []
        for i in range(count):
            self.qid += 1
            t0 = time.time()
            self.engine.search(
                [Query(qid=f"b{self.qid}", q=q, k=self.k,
                       autocomplete=self.autocomplete, filters=self.filters)]
            )
            times.append(time.time() - t0)
        times.sort()
        return (
            f"n={count} p50={times[len(times) // 2]:.3f}s "
            f"p95={times[min(len(times) - 1, int(len(times) * 0.95))]:.3f}s "
            f"best={times[0]:.3f}s"
        )

    def do_config(self, name: str) -> str:
        """≙ CONFIG (reference shell.py:533-545): dump the loaded
        config, or one key."""
        import dataclasses

        items = {
            f.name: getattr(self.cfg, f.name)
            for f in dataclasses.fields(self.cfg)
        }
        name = name.strip().lower()
        if name:
            if name not in items:
                return f"{name} Not found."
            return f"{name} {items[name]!r}"
        return "\n".join(f"{k} {v!r}" for k, v in sorted(items.items()))

    def do_dbkey(self, key: str) -> str:
        """≙ DBKEY (reference shell.py:329-340): print the raw content
        behind one index key. Reference key grammar kept: ``w|token``
        (postings), ``p|token`` (pair set), ``f|col|val`` (filter
        postings), ``d|conv_id|turn`` (document row)."""
        import pyarrow.dataset as pds

        from .index.build import open_dataset

        key = key.strip()
        kind, _, rest = key.partition("|")
        if kind == "w" and rest:
            if rest not in self.index.df:
                return f"type: none\nvalue: (no such token) {rest}"
            nb = open_dataset(self.index.paths, "blocks").count_rows(
                filter=pds.field("token") == rest
            )
            return (
                f"type: postings\n"
                f"value: token={rest} df={self.index.df[rest]} "
                f"max_boost={self.index.max_boost[rest]:.4f} blocks={nb}"
            )
        if kind == "p" and rest:
            return f"type: set\nvalue:\n{self.do_pair(rest)}"
        if kind == "f" and rest:
            if key not in self.index.df:
                return f"type: none\nvalue: (no such filter key) {key}"
            return f"type: postings\nvalue: key={key} df={self.index.df[key]}"
        if kind == "d" and rest:
            conv, _, turn = rest.partition("|")
            return f"type: hash\nvalue:\n{self.do_get(f'{conv} {turn or 0}')}"
        return f"Unsupported key type {kind!r} (use w| p| f| d|)"

    def do_index(self, arg: str) -> str:
        """≙ INDEX (reference shell.py:458-467): per-token index
        details for one document — each indexed token's boost for this
        doc and the doc's rank inside that token's postings (the
        reference's ZSCORE + ZREVRANK pair)."""
        import numpy as np
        import pandas as pd

        from .functions.text import analyze_str

        parts = shlex.split(arg)
        if len(parts) != 2:
            return "usage: INDEX <conv_id> <turn_idx>"
        doc = self.engine.get(parts[0], int(parts[1]))
        if doc is None:
            return f'id "{arg}" not found'
        di = int(doc["doc_index"])
        toks: list[str] = []
        for f_spec in self.cfg.fields:
            val = doc.get(f_spec.name)
            vals = list(val) if isinstance(val, (list, tuple, np.ndarray)) else [val]
            for v in vals:
                if v is not None and not (np.isscalar(v) and pd.isna(v)):
                    toks.extend(
                        analyze_str(str(v), self.cfg.synonyms,
                                    self.cfg.processors)
                    )
        toks = list(dict.fromkeys(toks))
        if not toks:
            return "(no indexed tokens)"
        out = []
        for t in toks:
            post = self.index.postings(t)
            mine = post.get(di)
            if mine is None:
                out.append(f"{t} (not indexed)")
                continue
            # rank ≙ ZREVRANK: postings strictly ahead of this doc in
            # the (boost desc, doc_index asc) total order
            rank = sum(
                1 for d, b in post.items()
                if b > mine or (b == mine and d < di)
            )
            out.append(f"{t} {mine:.4f} {rank}")
        return "\n".join(out)

    def do_dbinfo(self) -> str:
        import pyarrow.compute as pc

        from .index.build import open_dataset

        blocks = open_dataset(self.index.paths, "blocks").to_table(
            columns=["token", "n"]
        )
        return json.dumps(
            {
                **self.index.meta,
                "n_blocks": blocks.num_rows,
                "n_postings": int(pc.sum(blocks["n"]).as_py() or 0),
                "n_tokens": pc.count_distinct(blocks["token"]).as_py(),
            },
            indent=2,
        )

    # -- dispatch -----------------------------------------------------------
    def dispatch(self, line: str) -> str | None:
        line = line.strip()
        if not line:
            return None
        word, _, rest = line.partition(" ")
        cmd = word.upper()
        if cmd in ("QUIT", "EXIT"):
            raise EOFError
        if cmd == "HELP":
            return HELP
        if cmd == "EXPLAIN":
            return self.do_search(rest, explain=True)
        if cmd == "BUCKET":
            # whole collected bucket, not just k (≙ do_BUCKET)
            k0, self.k = self.k, max(self.cfg.bucket_max, self.k)
            try:
                return self.do_search(rest)
            finally:
                self.k = k0
        if cmd == "BENCH":
            return self.do_bench(rest)
        if cmd == "INTERSECT":
            return self.do_intersect(rest)
        if cmd == "PAIR":
            return self.do_pair(rest)
        if cmd == "BESTSCORE":
            return self.do_bestscore(rest)
        if cmd == "GET":
            return self.do_get(rest)
        if cmd == "STRDISTANCE":
            return self.do_strdistance(rest)
        if cmd == "TOKENIZE":
            return self.do_tokenize(rest)
        if cmd == "FUZZY":
            return self.do_fuzzy(rest)
        if cmd == "FREQ":
            return self.do_freq(rest)
        if cmd == "DBINFO":
            return self.do_dbinfo()
        if cmd == "DBKEY":
            return self.do_dbkey(rest)
        if cmd == "INDEX":
            return self.do_index(rest)
        if cmd == "CONFIG":
            return self.do_config(rest)
        if cmd == "AUTOCOMPLETE":
            if rest.strip().lower() in ("on", "off"):
                self.autocomplete = rest.strip().lower() == "on"
            else:
                self.autocomplete = not self.autocomplete
            return f"autocomplete: {'on' if self.autocomplete else 'off'}"
        if cmd == "FILTERS":
            r = rest.strip()
            if r.lower() in ("off", "none", ""):
                self.filters = {}
            else:
                self.filters = json.loads(r)
            return f"filters: {json.dumps(self.filters)}"
        if cmd == "K":
            self.k = int(rest.strip())
            return f"k: {self.k}"
        return self.do_search(line)

    def loop(self) -> None:  # pragma: no cover - interactive
        try:
            import readline  # noqa: F401  (history/editing if available)
        except ImportError:
            pass
        print("addok_spark shell — HELP for commands, QUIT to leave")
        while True:
            try:
                line = input("addok> ")
            except (EOFError, KeyboardInterrupt):
                print()
                return
            try:
                out = self.dispatch(line)
            except EOFError:
                return
            except Exception as e:  # keep the REPL alive on bad input
                out = f"error: {e}"
            if out:
                print(out)
