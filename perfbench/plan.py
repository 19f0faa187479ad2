"""Seeded inputs for each workload, and the closed-form outputs they must produce.

Every input file is a generated UDBF logger file. Past its warm-up, channel
``c`` of frame ``i`` reads ``base + (i % period) * step``. The benchmark picks
``period`` so that it divides both the warm-up length and the trimmed frame
count, so each channel's mean, min and max are closed-form. All values are
multiples of 1/8 with small magnitude: they are exact in float32, their sums
are exact in float64, and rounding to 3 decimals leaves them unchanged.
"""

import datetime as dt
import math
import os
import random
import struct

# The two LPI logger shapes, sized near REF_FILE_SIZE_100HZ (447.2 KB) and
# REF_FILE_SIZE_1HZ (27.2 KB) so the size-band health check reads "in band".
SHAPES = {
    "100hz": dict(rate=100.0, frames=60000, time_field=False,
                  channels=[("s1", "µm/m"), ("s2", "µm/m")],
                  periods=(4, 8, 10, 20, 40, 50)),
    "1hz": dict(rate=1.0, frames=600, time_field=True,
                channels=[("t%d" % i, "°C") for i in range(1, 10)],
                periods=(2, 5, 10)),
}
FLOAT32 = 8          # UDBF data type id of float32
WARMUP_S = 10        # cut files carry 10 s of warm-up samples (F4 trim)
CUT_SHARE = 0.2      # share of cut (warm-up-trimmed) files in every mix
CORRUPT_SHARE = 0.1  # share of corrupt files in every mix
SLOT = dt.timedelta(minutes=10)
# the pipelines' trigger period, TICKER_INTERVAL_SEC (as the program reads it)
TRIGGER_MS = 1000.0 * float(os.environ.get("TICKER_INTERVAL_SEC", "2.0"))

# Open-loop rate, files per second per logger. The reference's loggers each
# write one file per 10 minutes, so a logger never has two files waiting in
# one trigger period; the janitor path admits at most one file per trigger
# period per logger (maxFilesPerTrigger=1). Both workloads land files at 90 %
# of that cap (0.45 files/s at the 2 s trigger): under one file per period,
# so each micro-batch carries one file, and on the DSv2 path one 10-minute
# window, as with the real traffic.
RATE = 0.9 * 1000.0 / TRIGGER_MS
SETUP_REPS = 3

WORKLOADS = ("lpi_live", "udbf_window_live")


def channel_stats(base, step, period):
    """Closed-form (mean, min, max) of base + (i % period) * step over whole periods."""
    return (base + step * (period - 1) / 2.0, float(base), base + step * (period - 1))


def java_double(x):
    """A double as Java's Double.toString prints it, for the values this plan makes.

    Plan values are multiples of 1/8 between 1e-3 and 1e7 in magnitude (or
    zero), where Java and Python both print the shortest round-trip form.
    """
    assert x == 0 or 1e-3 <= abs(x) < 1e7, x
    return repr(float(x))


def float32(x):
    return struct.unpack("<f", struct.pack("<f", x))[0]


def _file(rng, group, kind, start, land_ms=0.0):
    shape = SHAPES[group]
    chans = [dict(name=n, unit=u, type=FLOAT32, base=float(rng.randint(-40, 40)),
                  step=rng.choice((0.25, 0.5, 1.0)), period=rng.choice(shape["periods"]))
             for n, u in shape["channels"]]
    cut = kind == "cut"
    if cut:  # a cut file starts off the 10-minute grid
        start += dt.timedelta(seconds=rng.randint(1, 299))
    return dict(
        name="lpi_%s_%s.dat" % (group, start.strftime("%Y-%m-%d_%H-%M-%S")),
        group=group, kind=kind,
        start_us=int(start.replace(tzinfo=dt.timezone.utc).timestamp()) * 1000000,
        rate=shape["rate"], frames=shape["frames"], time_field=shape["time_field"],
        channels=chans,
        warmup_frames=int(shape["rate"] * WARMUP_S) if cut else 0,
        warmup_value=-1000.0, land_ms=land_ms)


def _arrivals(rng, n, rate, phase0=0.0):
    """Open-loop due times in ms, sorted, each with its phase stratum.

    Arrival j falls in the trigger period floor(j * periods_per_arrival)
    (periods start `phase0` ms off the trigger grid), at the middle of its
    own 1/n stratum of the period, strata in seeded order. Arrival phases so
    cover the period evenly, the same phases in every run, and inter-arrival
    times come from the seed and are never a multiple of the trigger.

    The schedule is stratified rather than Poisson on purpose. Each logger
    of the reference writes one file per 10 minutes, so real traffic never
    puts two files of one logger in one trigger period; Poisson arrivals
    would, and would measure queueing the deployment does not see. And with
    a dozen files per run, Poisson phases leave the median at the mercy of
    where the seed put them against the trigger (a file just after a
    trigger waits a whole period); strata take that out.
    """
    strata = list(range(n))
    rng.shuffle(strata)
    per = 1000.0 / rate / TRIGGER_MS  # trigger periods per arrival
    return sorted((phase0 + (math.floor(j * per) + (strata[j] + 0.5) / n) * TRIGGER_MS,
                   strata[j]) for j in range(n))


def _kinds_by_stratum(n):
    """Exactly round(n * share) cut and corrupt files, laid evenly over the
    n phase strata.

    Latency depends on both phase and kind, and corrupt files have none;
    the same kind at the same strata in every run keeps the median from
    depending on which kinds, and which missing phases, the seed happened
    to put where. The seed still decides the order the strata arrive in.
    """
    n_cut, n_bad = round(n * CUT_SHARE), round(n * CORRUPT_SHARE)
    kinds = ["aligned"] * n
    for kind, count, shift in (("cut", n_cut, 0.25), ("corrupt", n_bad, 0.75)):
        for i in range(count):
            pos = int((i + shift) * n / count) % n
            while kinds[pos] != "aligned":
                pos = (pos + 1) % n
            kinds[pos] = kind
    return kinds


def _registers():
    fields = ["%s:%s" % (c, s) for g in sorted(SHAPES) for c, _ in SHAPES[g]["channels"]
              for s in ("mean", "min", "max")]
    return [[f, 2 * i] for i, f in enumerate(fields)]


def make(workload, seed, seconds):
    """The plan the JVM side runs: files, warm-up files and the register map."""
    rng = random.Random("%s/%d" % (workload, seed))
    epoch = dt.datetime(2024, 1, 1) + dt.timedelta(days=rng.randint(0, 300))
    files, warmup = [], []
    if workload == "lpi_live":
        n = int(RATE * seconds)
        # periods between janitor ticks (half a trigger before the grid): at
        # under one arrival per period, no logger queues at its gate
        for g in sorted(SHAPES):
            kinds = _kinds_by_stratum(n)
            arrivals = _arrivals(rng, n, RATE, phase0=TRIGGER_MS / 2)
            for k, (land, stratum) in enumerate(arrivals):
                files.append(_file(rng, g, kinds[stratum], epoch + (k + 1) * SLOT, land))
        # one warm-up file of every shape and kind that has stats
        warmup = [_file(rng, g, kind, epoch) for g in sorted(SHAPES) for kind in ("aligned", "cut")]
    elif workload == "udbf_window_live":
        n = int(RATE * seconds)
        for k, (land, _) in enumerate(_arrivals(rng, n, RATE)):
            files.append(_file(rng, "100hz", "aligned", epoch + (k + 1) * SLOT, land))
        warmup = [_file(rng, "100hz", "aligned", epoch - k * SLOT) for k in range(3)]
    else:
        raise ValueError("unknown workload %r" % workload)
    return dict(workload=workload, seconds=seconds, setup_reps=SETUP_REPS,
                files=files, warmup=warmup, registers=_registers())


def stats_key(workload, f):
    """The KV key a file's stats land under."""
    if workload == "udbf_window_live":
        start = dt.datetime.fromtimestamp(f["start_us"] // 1000000, dt.timezone.utc)
        return "stats:" + start.strftime("%Y-%m-%dT%H:%M:%SZ")
    return "stats:" + f["name"][:-len(".dat")]


def expected_fields(f):
    """The stats hash fields a good file must produce, as the sink writes them."""
    out = {}
    for c in f["channels"]:
        mean, lo, hi = channel_stats(c["base"], c["step"], c["period"])
        out.update({c["name"] + ":mean": java_double(mean), c["name"] + ":min": java_double(lo),
                    c["name"] + ":max": java_double(hi)})
    return out


def expected_csv(f):
    """The byte-exact <stem>_stats.csv of a good file."""
    rows = ["Sensor,Mean,Minimum,Maximum"]
    for c in sorted(f["channels"], key=lambda c: c["name"]):
        rows.append(",".join([c["name"]] + [java_double(v) for v in
                                            channel_stats(c["base"], c["step"], c["period"])]))
    return "\n".join(rows) + "\n"
