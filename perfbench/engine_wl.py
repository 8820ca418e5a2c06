"""The two rule-engine workloads, driven through the program's public
surface in its shipped configuration:

    session.get_spark -> streaming.read_ndjson_stream ->
    streaming.runner.run_engine_stream -> control.engine.Engine,

with a ``rules.store.SignupRulesManager`` over a rules file on disk and a
GeoIP range table, and the benchmark's own timestamping sinks.

``live_signups`` is an open loop: the feeder process lands a small file
every 0.1 s, whatever the program does, under a 5 s processing-time
trigger, while a moderator thread sends commands on a fixed schedule
through ``control.rtm.dispatch_message``, as the chat client does.

``bot_wave`` drains landed backlogs with ``availableNow`` and
``maxFilesPerTrigger``, one 10,000-line micro-batch per round.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import re
import statistics
import subprocess
import sys
import threading
import time

import expect
import inputs
import procstat

HERE = os.path.dirname(os.path.abspath(__file__))

# The processing-time trigger puts triggers on a fixed grid (Spark aligns it
# to whole multiples of the interval since the epoch), so the window holds a
# fixed number of triggers whatever their speed: CPU per signup then counts
# work, and the wait for the next trigger is the same on every run. The
# feeder and the moderator start on that grid, so every run sends each
# command at the same point of the trigger cycle.
LIVE = dict(interval=0.1, lines=20, warmup=10.0, command_every=2.0, trigger_s=5)
BOT = dict(file_lines=500, files_per_batch=20, batches_per_round=1, wave_share=0.04)
# checks made once per command sent: a rejected reply is a failed command
COMMAND_CHECKS = ("dryrun_replies", "command_replies", "seen_answers", "status_answer")


class TimedSink:
    """MessageSink and ModApiSink: records each post with its wall time and
    the posting thread, and delivers nothing."""

    def __init__(self):
        self.posts: list[tuple[float, int, str, object]] = []

    def post(self, key, value=0):
        self.posts.append((time.time(), threading.get_ident(), key, value))


def _epoch(ts: str) -> float:
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc).timestamp()


def make_listener(spark):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        """Per-trigger progress records (durationMs, numInputRows) of
        every query, read from outside the program."""

        def __init__(self):
            self.batches: dict[tuple[str, int], dict] = {}
            self.done = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            rec = {
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
                "end": _epoch(p.timestamp) + p.durationMs.get("triggerExecution", 0) / 1000.0,
            }
            with self.done:
                self.batches[(str(p.runId), p.batchId)] = rec
                self.done.notify_all()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def rows(self) -> int:
            with self.done:
                return sum(b["rows"] for b in self.batches.values())

        def wait_rows(self, n: int, timeout: float) -> bool:
            end = time.time() + timeout
            with self.done:
                while sum(b["rows"] for b in self.batches.values()) < n:
                    left = end - time.time()
                    if left <= 0:
                        return False
                    self.done.wait(left)
            return True

    lst = ProgressLog()
    spark.streams.addListener(lst)
    return lst


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def unique_users(lines: list[str]) -> list[str]:
    """Usernames of a file's signups whose lower-cased form occurs once."""
    evs = [e for e in map(inputs.parse_line, lines) if e]
    names = [e["username"].lower() for e in evs]
    return [e["username"] for e in evs if names.count(e["username"].lower()) == 1]


def _user_of_post(key: str, value) -> str | None:
    """Username a mod-API or notify post is about."""
    if key.startswith("/mod/"):
        parts = key.split("/")
        return parts[2] if len(parts) > 3 else None
    if key == "notify":
        m = re.match(r"^Rule \S+ match: \[([^\]]+)\]\(", value)
        return m.group(1) if m else None
    return None


def first_posts(r: "EngineRun") -> dict[str, float]:
    """Wall time of the first mod-API or notify post about each user."""
    out: dict[str, float] = {}
    for t, _, k, v in r.api.posts + r.messages.posts:
        u = _user_of_post(k, v)
        if u is not None and t < out.get(u, float("inf")):
            out[u] = t
    return out


class EngineRun:
    """State shared by both engine workloads."""

    def __init__(self, workload: str, seed: int, work: str):
        from pyspark.sql import types as T

        from lichess_event_stream_watcher_spark.control.engine import Engine
        from lichess_event_stream_watcher_spark.rules.store import SignupRulesManager
        from lichess_event_stream_watcher_spark.session import get_spark

        self.workload, self.seed = workload, seed
        self.spark = get_spark(f"perfbench-{workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.listener = make_listener(self.spark)
        self.landing = os.path.join(work, "landing")
        self.ckpt = os.path.join(work, "ckpt")
        os.makedirs(self.landing)
        self.rules = inputs.rule_set()
        self.rules_path = os.path.join(work, "rules.json")
        with open(self.rules_path, "w") as f:
            json.dump(self.rules, f)
        schema = T.StructType(
            [
                T.StructField("lo", T.LongType(), False),
                T.StructField("hi", T.LongType(), False),
                T.StructField("country", T.StringType(), False),
                T.StructField("city", T.StringType(), False),
                T.StructField("subdivisions", T.ArrayType(T.StringType()), False),
            ]
        )
        self.ranges_df = self.spark.createDataFrame(inputs.geoip_ranges(), schema)
        self.messages, self.api = TimedSink(), TimedSink()
        self.store = SignupRulesManager(self.rules_path)
        self.engine = Engine(
            self.store,
            messages=self.messages,
            mod_api=self.api,
            geoip_ranges=self.ranges_df,
            rng=random.Random(seed),
        )
        self.files: list[int] = []  # landed file indices, in landing order
        self.file_lines: dict[int, int] = {}
        self.checks_names = [
            "processed_once",
            "mod_api_endpoints",
            "mod_api_delays",
            "notify_messages",
            "log_messages",
            "rule_match_count",
            "rule_recent_caught",
            "seen_answers",
            "status_answer",
        ]
        self.seen_log: list[tuple[str, str, str]] = []  # (kind, user, reply)

    def stream(self, **kw):
        from lichess_event_stream_watcher_spark.streaming import read_ndjson_stream, run_engine_stream

        events = read_ndjson_stream(self.spark, self.landing, kw.pop("max_files_per_trigger", None))
        return run_engine_stream(self.engine, events, self.ckpt, **kw)

    def feeder(self, mode, first, files, lines, wave_share=0.0, **kw):
        args = [
            sys.executable,
            os.path.join(HERE, "feeder.py"),
            mode,
            "--landing", self.landing,
            "--seed", str(self.seed),
            "--workload", self.workload,
            "--first", str(first),
            "--files", str(files),
            "--lines", str(lines),
            "--wave-share", str(wave_share),
        ]
        for k, v in kw.items():
            args += [f"--{k}", str(v)]
        self.files += list(range(first, first + files))
        for i in range(first, first + files):
            self.file_lines[i] = lines
        return args

    def landed_lines(self) -> int:
        return sum(self.file_lines[i] for i in self.files)

    def lines_of(self, i: int, wave_share: float) -> list[str]:
        return inputs.landing_file(self.seed, self.workload, i, self.file_lines[i], wave_share)

    def seen_cmd(self, user: str) -> str:
        out = self._command(f"signup seen {user}")
        return out[0] if out else ""

    def _command(self, text: str) -> list[str]:
        """Send one command the way the chat client does and return the
        replies it posted."""
        from lichess_event_stream_watcher_spark.control.rtm import dispatch_message

        me = threading.get_ident()
        n0 = len(self.messages.posts)
        dispatch_message(
            "@**perfbench** " + text,
            "perfbench",
            "mod",
            "signup",
            {"display_recipient": "mod", "subject": "signup"},
            lambda t: self.engine.handle_command(t, self.spark),
        )
        return [v for _, tid, ch, v in self.messages.posts[n0:] if tid == me and ch == "command"]

    def expected(self, wave_share: float):
        """Feed every landed signup, in landing order, to the checker."""
        exp = expect.Expected(self.rules, expect.GeoIP(inputs.geoip_ranges()), int(time.time() * 1000))
        due_users: dict[str, int] = {}
        for i in self.files:
            for line in self.lines_of(i, wave_share):
                ev = inputs.parse_line(line)
                if ev is not None:
                    exp.feed(ev)
                    due_users[ev["username"]] = i
        return exp, due_users

    def check_outputs(self, checks: expect.Checks, exp) -> None:
        checks.check(
            "processed_once",
            self.listener.rows() == self.landed_lines(),
            f"{self.listener.rows()} rows processed, {self.landed_lines()} landed",
        )
        api = [(k, v) for _, _, k, v in self.api.posts]
        msgs = [(k, v) for _, _, k, v in self.messages.posts if k in ("notify", "log")]
        with open(self.rules_path) as f:
            on_disk = json.load(f)
        expect.compare_stream(checks, exp, api, msgs, on_disk)
        for kind, user, reply in self.seen_log:
            if kind == "yes":
                ok = reply.startswith(
                    "Yes, that user has been seen in the latest 10K sign-ins. Seen 1 times:\n`"
                ) and f'"username":{json.dumps(user)}' in reply
            else:
                ok = reply == "No, that user has not been seen in the latest 10K sign-ins."
            checks.check("seen_answers", ok, f"{kind} {user}: {reply[:120]!r}")

    def failed_ops(self, checks: expect.Checks) -> int:
        """Landed lines not processed exactly once, plus commands whose
        reply the checker rejected."""
        lost = abs(self.landed_lines() - self.listener.rows())
        return lost + sum(checks.failed.get(n, 0) for n in COMMAND_CHECKS)

    def status_check(self, checks: expect.Checks, t_lo: float) -> None:
        reply = self._command("status")
        m = re.match(r"^I am alive! Latest event: \(UTC\) (\d\d/\d\d/\d{4} \d\d:\d\d:\d\d)$", reply[0] if reply else "")
        ok = m is not None and (
            t_lo - 1
            <= dt.datetime.strptime(m.group(1), "%d/%m/%Y %H:%M:%S").replace(tzinfo=dt.timezone.utc).timestamp()
            <= time.time()
        )
        checks.check("status_answer", ok, repr(reply))

    def progress_metrics(self, run_ids: set[str] | None = None) -> dict[str, float]:
        recs = [b for (rid, _), b in self.listener.batches.items() if b["rows"] > 0 and (run_ids is None or rid in run_ids)]
        ms = lambda k: [b["ms"].get(k, 0) for b in recs]  # noqa: E731
        return {
            "source.list_ms_p50": _p50(ms("latestOffset")),
            "source.get_batch_ms_p50": _p50(ms("getBatch")),
            "runner.commit_ms_p50": _p50([b["ms"].get("walCommit", 0) + b["ms"].get("commitOffsets", 0) for b in recs]),
            "runner.trigger_ms_p50": _p50(ms("triggerExecution")),
            "runner.batches": len(recs),
            "source.rows_per_batch_p50": _p50([b["rows"] for b in recs]),
        }


# -- live_signups ------------------------------------------------------------


class Moderator(threading.Thread):
    """Sends the moderator script on a fixed schedule. A command due while
    the previous one is still running waits for it, as a chat client that
    handles one message at a time does; its reply time counts from when it
    was due."""

    def __init__(self, run: EngineRun, t0: float, until: float):
        super().__init__(daemon=True)
        self.run_, self.t0, self.until = run, t0, until
        self.log: list[dict] = []
        self.mod_rules: list[dict] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            self._run()
        except BaseException as e:  # reported by the main thread
            self.error = e

    def _run(self) -> None:
        r = self.run_
        script = inputs.moderator_script()
        users = inputs.dryrun_users(r.seed)
        k = 0
        while True:
            due = self.t0 + k * LIVE["command_every"]
            if due >= self.until:
                return
            cycle, step = divmod(k, len(script))
            kind, text = script[step]
            entry = {"kind": kind, "due": due}
            if kind == "dryrun":
                user = users[k % len(users)]
                entry["user"] = user
                text = inputs.dryrun_command(user)
            elif kind == "seen_yes":
                entry["user"] = text = self._seen_target()
                if text is None:
                    k += 1
                    continue
                text = f"signup seen {text}"
            elif kind == "seen_no":
                entry["user"] = f"nobody{r.seed}x{k}"
                text = f"signup seen {entry['user']}"
            else:
                text = text.format(k=cycle)
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            now_ms = int(time.time() * 1000)
            entry["rules"] = [dict(x) for x in r.rules + self.mod_rules]
            entry["now_ms"] = now_ms
            replies = r._command(text)
            entry["end"] = time.time()
            entry["replies"] = replies
            self._track(kind, cycle, replies)
            self.log.append(entry)
            k += 1

    def _seen_target(self) -> str | None:
        """A streamed signup that is already processed: the newest unique
        username among the processed lines, well inside the 10K window."""
        r = self.run_
        done = r.listener.rows()
        pos = 0
        last = None
        for i in list(r.files):
            pos += r.file_lines[i]
            if pos > done:
                break
            last = i
        return None if last is None else unique_users(r.lines_of(last, 0.0))[-1]

    def _track(self, kind: str, cycle: int, replies: list[str]) -> None:
        name = f"mod_{cycle}"
        if kind == "add" and replies == ["Rule added!"]:
            self.mod_rules.append(
                inputs.rule(name, "UsernameContains", "zqxmod", ["NotifyZulip", "EngineMark"],
                             expiry=int(time.time() * 1000) + 182 * 86400_000)
            )
        for rule in self.mod_rules:
            if rule["name"] == name:
                if kind == "disable" and replies == ["1 rules disabled."]:
                    rule["enabled"] = False
                elif kind == "enable" and replies == ["1 rules enabled."]:
                    rule["enabled"] = True
        if kind == "remove" and replies == ["Rule removed!"]:
            self.mod_rules = [x for x in self.mod_rules if x["name"] != name]


_REPLIES = {
    "add": ["Rule added!"],
    "disable": ["1 rules disabled."],
    "enable": ["1 rules enabled."],
    "renew": ["Rule renewed!"],
    "remove": ["Rule removed!"],
}


def run_live(seed: int, seconds: int, tracer, t_start: float, work: str) -> dict:
    r = EngineRun("live_signups", seed, work)
    r.checks_names += ["dryrun_replies", "command_replies", "churn_rules_unmatched"]
    checks = expect.Checks(r.checks_names)
    if tracer is not None:
        from tracing import install_engine_tracing

        install_engine_tracing(tracer, r)

    # set-up: the first micro-batch over a first landed file
    subprocess.run(r.feeder("backlog", 0, 1, LIVE["lines"]), check=True)
    trigger = LIVE["trigger_s"]
    query = r.stream(processing_time=f"{trigger} seconds")
    if not r.listener.wait_rows(r.landed_lines(), 120):
        raise RuntimeError("the first micro-batch did not complete")
    setup_s = time.time() - t_start

    warm, interval = LIVE["warmup"], LIVE["interval"]
    n_files = int(round((warm + seconds) / interval))
    t0 = math.ceil((time.time() + 0.3) / trigger) * trigger + 0.1
    m0, m1 = t0 + warm, t0 + warm + seconds
    manifest = os.path.join(work, "manifest.jsonl")
    gen = subprocess.Popen(
        r.feeder("live", 1, n_files, LIVE["lines"], interval=interval, t0=t0, manifest=manifest)
    )
    mod = Moderator(r, t0 + 0.5, m1)
    mod.start()
    try:
        time.sleep(max(0.0, m0 - time.time()))
        cpu0 = procstat.sample(exclude={gen.pid})
        time.sleep(max(0.0, m1 - time.time()))
        cpu1 = procstat.sample(exclude={gen.pid})
        gen.wait(timeout=60)
        mod.join(timeout=60)
        drained = r.listener.wait_rows(r.landed_lines(), 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
        query.stop()
    if query.exception() is not None:
        raise RuntimeError(f"streaming query failed: {query.exception()}")
    if mod.is_alive() or mod.error is not None:
        raise RuntimeError(f"moderator did not finish: {mod.error!r}")
    if not drained:
        print(f"not drained: {r.listener.rows()} of {r.landed_lines()} lines", file=sys.stderr)
    rss = procstat.driver_peak_rss_mb()
    r.status_check(checks, t0)
    if tracer is not None:
        tracer.unpatch()

    # -- metrics --------------------------------------------------------------
    with open(manifest) as f:
        man = [json.loads(x) for x in f]
    due = {m["i"]: m["due"] for m in man}
    exp, user_file = r.expected(0.0)
    first_post = first_posts(r)
    catch = [
        (first_post[u] - due[i]) * 1000
        for u, i in user_file.items()
        if i in due and m0 <= due[i] < m1 and u in exp.caught_users and u in first_post
    ]
    cpu_s = procstat.tree_cpu_s(cpu1) - procstat.tree_cpu_s(cpu0)
    # the engine keeps up, so the window's CPU serves the lines landed in it
    events = sum(r.file_lines[m["i"]] for m in man if m0 <= m["due"] < m1)
    e2e = {
        "setup_s": setup_s,
        "latency_ms_p50": _p50(catch),
        "cpu_ms_per_item": cpu_s * 1000 / events,
        "driver_rss_mb": rss,
    }

    # -- checks -----------------------------------------------------------------
    geo = expect.GeoIP(inputs.geoip_ranges())
    churn = inputs.rule("mod", "UsernameContains", "zqxmod", ["NotifyZulip"])
    streamed = (inputs.parse_line(x) for i in r.files for x in r.lines_of(i, 0.0))
    checks.check(
        "churn_rules_unmatched",
        not any(expect.matched_rules([churn], e, geo, 0) for e in streamed if e),
        "a streamed signup matches a churned rule",
    )
    dry_ms = []
    for e in mod.log:
        if e["kind"] == "dryrun":
            u = e["user"]
            user = {
                "username": u["username"], "email": u["email"], "ip": u["ip"],
                "user_agent": u.get("userAgent"), "finger_print": u.get("fingerPrint"),
                "susp_ip": bool(u.get("suspIp", False)),
            }
            want = expect.dryrun_replies(e["rules"], user, geo, e["now_ms"])
            checks.check("dryrun_replies", e["replies"] == want, f"{e['replies']} != {want}")
            if e["due"] >= m0:
                dry_ms.append((e["end"] - e["due"]) * 1000)
        elif e["kind"] in _REPLIES:
            checks.check("command_replies", e["replies"] == _REPLIES[e["kind"]], f"{e['kind']}: {e['replies']}")
        elif e["kind"] in ("seen_yes", "seen_no"):
            r.seen_log.append(("yes" if e["kind"] == "seen_yes" else "no", e["user"], e["replies"][0] if e["replies"] else ""))
        elif e["kind"] == "status":
            checks.check("status_answer", bool(e["replies"]) and e["replies"][0].startswith("I am alive!"), str(e["replies"]))
    r.check_outputs(checks, exp)

    layers = None
    if tracer is not None:
        from tracing import engine_layer_metrics

        cpu = {k: cpu1[k] - cpu0[k] for k in cpu1}
        layers = engine_layer_metrics(tracer, r, cpu, cpu1["jvm_rss_mb"])
        layers["gen.late_ms_max"] = max((m["done"] - m["due"]) * 1000 for m in man)
        layers["moderator.dryrun_ms_p50"] = _p50(dry_ms)
    in_window = [b for b in r.listener.batches.values() if m0 <= b["end"] < m1 and b["rows"]]
    print(
        f"live_signups: {len(in_window)} batches in the window, trigger p50 "
        f"{_p50([b['ms']['triggerExecution'] for b in in_window]):.0f} ms, "
        f"{len(catch)} catch samples, {len(dry_ms)} dry-runs, "
        f"{events} events in the window, generator late by at most "
        f"{max((m['done'] - m['due']) * 1000 for m in man):.1f} ms, dry-run p50 {_p50(dry_ms):.0f} ms",
        file=sys.stderr,
    )
    # operations: every landed line, every scripted command and the final status
    return {
        "e2e": e2e,
        "layers": layers,
        "checks": checks,
        "attempted": r.landed_lines() + len(mod.log) + 1,
        "failed": r.failed_ops(checks),
    }


# -- bot_wave -----------------------------------------------------------------


def run_bot(seed: int, seconds: int, tracer, t_start: float, work: str) -> dict:
    r = EngineRun("bot_wave", seed, work)
    checks = expect.Checks(r.checks_names)
    if tracer is not None:
        from tracing import install_engine_tracing

        install_engine_tracing(tracer, r)
    fpb, wave = BOT["files_per_batch"], BOT["wave_share"]
    next_file = 0

    def drain(files: int) -> tuple[float, float, str]:
        nonlocal next_file
        subprocess.run(r.feeder("backlog", next_file, files, BOT["file_lines"], wave), check=True)
        next_file += files
        q0 = time.time()
        query = r.stream(available_now=True, max_files_per_trigger=fpb)
        query.awaitTermination()
        q1 = time.time()
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        # progress events reach the listener asynchronously
        if not r.listener.wait_rows(r.landed_lines(), 60):
            print(f"progress of {r.landed_lines() - r.listener.rows()} lines never reported", file=sys.stderr)
        return q0, q1, str(query.runId)

    drain(1)  # set-up: the first micro-batch, over one landed file
    setup_s = time.time() - t_start
    drain(fpb * BOT["batches_per_round"])  # warm-up

    rounds: list[tuple[float, float, int, int]] = []
    timed_runs: set[str] = set()
    busy = 0.0
    cpu = dict.fromkeys(procstat.sample(), 0.0)
    while busy < seconds:
        first = next_file
        c0 = procstat.sample()
        q0, q1, run_id = drain(fpb * BOT["batches_per_round"])
        c1 = procstat.sample()
        cpu = {k: cpu[k] + c1[k] - c0[k] for k in cpu}
        busy += q1 - q0
        rounds.append((q0, q1, first, next_file))
        timed_runs.add(run_id)
    rss = procstat.driver_peak_rss_mb()

    # seen and status, answered from the window the drains left behind
    for u in unique_users(r.lines_of(r.files[-1], wave))[-3:]:
        r.seen_log.append(("yes", u, r.seen_cmd(u)))
    r.seen_log.append(("no", f"nobody{seed}", r.seen_cmd(f"nobody{seed}")))
    r.status_check(checks, rounds[-1][0])
    if tracer is not None:
        tracer.unpatch()

    exp, user_file = r.expected(wave)
    first_post = first_posts(r)
    catch = []
    for q0, _, lo, hi in rounds:
        catch += [
            (first_post[u] - q0) * 1000
            for u, i in user_file.items()
            if lo <= i < hi and u in exp.caught_users and u in first_post
        ]
    events = sum(r.file_lines[i] for _, _, lo, hi in rounds for i in range(lo, hi))
    e2e = {
        "setup_s": setup_s,
        "latency_ms_p50": _p50(catch),
        "cpu_ms_per_item": procstat.tree_cpu_s(cpu) * 1000 / events,
        "driver_rss_mb": rss,
    }
    r.check_outputs(checks, exp)
    layers = None
    if tracer is not None:
        from tracing import engine_layer_metrics

        layers = engine_layer_metrics(tracer, r, cpu, c1["jvm_rss_mb"], run_ids=timed_runs)
    print(
        f"bot_wave: {len(rounds)} timed rounds, {events} events in {busy:.2f} s "
        f"({events / busy:.0f} events/s), "
        f"{len(catch)} catch samples",
        file=sys.stderr,
    )
    # operations: every landed line, and the seen and status commands
    return {
        "e2e": e2e,
        "layers": layers,
        "checks": checks,
        "attempted": r.landed_lines() + len(r.seen_log) + 1,
        "failed": r.failed_ops(checks),
    }
