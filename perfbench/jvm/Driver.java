import com.fasterxml.jackson.databind.JsonNode;
import com.fasterxml.jackson.databind.ObjectMapper;
import java.io.IOException;
import java.lang.management.GarbageCollectorMXBean;
import java.lang.management.ManagementFactory;
import java.lang.management.MemoryPoolMXBean;
import java.lang.management.MemoryType;
import java.lang.reflect.Method;
import java.nio.file.Files;
import java.nio.file.Path;
import java.nio.file.StandardCopyOption;
import java.util.ArrayList;
import java.util.Comparator;
import java.util.HashMap;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;
import java.util.stream.Stream;
import org.apache.spark.SparkContext;
import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerBlockUpdated;
import org.apache.spark.scheduler.SparkListenerJobEnd;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerStageCompleted;
import org.apache.spark.scheduler.SparkListenerStageSubmitted;
import org.apache.spark.scheduler.SparkListenerTaskEnd;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.catalyst.QueryPlanningTracker;
import org.apache.spark.sql.execution.QueryExecution;
import org.apache.spark.sql.util.QueryExecutionListener;
import org.apache.spark.storage.BlockUpdatedInfo;
import scala.Function2;
import scala.jdk.javaapi.CollectionConverters;

/**
 * JVM side of the benchmark: one closed-loop client calling the program's
 * public functions (`graft.SparkEntry.queries`, `graft.Tables`,
 * `graft.api.Upsert`, `graft.api.ResultCache`).
 *
 * <p>Launched through the program's own launcher in source-file mode
 * (`sh tools/run_main.sh perfbench/jvm/Driver.java plan.json`), so the
 * program's JVM flags apply unchanged. Reads the plan run.py wrote, runs
 * set-up, the timed window and (with tracing) the listeners, and writes
 * result.json beside the plan. Answers are landed as parquet; run.py checks
 * them against the oracle after this process has exited.
 */
public class Driver {
  static final ObjectMapper JSON = new ObjectMapper();
  static final String OP_TAG = "perfbench.op";
  static final String[] TABLES = {"region", "nation", "supplier", "customer", "part",
      "orders", "lineitem", "events", "documents", "embeddings"};
  static final Map<String, String> KEYS = Map.of("orders", "o_orderkey", "documents", "doc_id");

  final JsonNode plan;
  final Path runDir;
  final String sourceDir;
  final Path dataDir;
  final int cores;
  SparkSession spark;
  final List<Map<String, Object>> ops = new ArrayList<>();
  final List<Map<String, Object>> passes = new ArrayList<>();
  /** Table name -> index of the refresh op whose output is live at its path (-1: base). */
  final Map<String, Integer> liveProducer = new HashMap<>();

  Driver(JsonNode plan) {
    this.plan = plan;
    this.runDir = Path.of(plan.get("run_dir").asText());
    this.sourceDir = plan.get("data_dir").asText();
    this.cores = plan.get("cores").asInt();
    // refresh mutates a private copy; the other workloads read the shared inputs
    this.dataDir = plan.get("workload").asText().equals("refresh")
        ? runDir.resolve("data") : Path.of(sourceDir);
  }

  public static void main(String[] args) throws Exception {
    Map<String, Object> result = new LinkedHashMap<>();
    result.put("launch_s", (System.currentTimeMillis()
        - ManagementFactory.getRuntimeMXBean().getStartTime()) / 1e3);
    JsonNode plan = JSON.readTree(Path.of(args[0]).toFile());
    Driver d = new Driver(plan);
    result.put("calibration_before", calibration());
    List<Double> setups = new ArrayList<>();
    int nSetups = plan.get("setups").asInt();
    for (int i = 0; i < nSetups; i++) {
      long t0 = System.nanoTime();
      if (d.spark != null) d.stopSession();
      d.setUp();
      setups.add((System.nanoTime() - t0) / 1e9);
    }
    result.put("setup_s", setups);
    long windowStart = System.nanoTime();
    if (plan.get("workload").asText().equals("refresh")) d.runRefresh(windowStart);
    else d.runPasses(windowStart);
    result.put("window_s", (System.nanoTime() - windowStart) / 1e9);
    result.put("calibration_after", calibration());
    result.put("passes", d.passes);
    result.put("ops", d.ops);
    result.put("live_producers", d.liveProducer);
    result.put("oracle_sql", d.oracleSql());
    result.put("conf", CollectionConverters.asJava(d.spark.conf().getAll()));
    d.spark.stop();
    result.put("vm_hwm_kb", vmHwmKb());
    JSON.writerWithDefaultPrettyPrinter()
        .writeValue(d.runDir.resolve("result.json").toFile(), result);
  }

  // ---------------------------------------------------------------- set-up

  /** Session, a first touch of every table through graft.Tables, the
   *  warm-up list (no measured op), cleared caches and one full GC. */
  void setUp() throws Exception {
    spark = SparkSession.builder()
        .master("local[" + cores + "]")
        .config("spark.sql.shuffle.partitions", String.valueOf(cores))
        .getOrCreate();
    spark.sparkContext().setLogLevel("WARN");
    if (!dataDir.toString().equals(sourceDir)) {
      deleteTree(dataDir);
      Files.createDirectories(dataDir);
      for (String t : TABLES) {
        Files.copy(Path.of(sourceDir, t + ".parquet"), dataDir.resolve(t + ".parquet"));
        liveProducer.put(t, -1);
      }
    }
    for (String t : TABLES) {
      Method m = graft.Tables.class.getMethod(t, SparkSession.class, String.class);
      ((Dataset<?>) m.invoke(null, spark, dataDir.toString())).count();
    }
    for (JsonNode q : plan.get("warmup")) {
      query(q.asText()).apply(spark, dataDir.toString()).count();
    }
    clearCaches(true);
    System.gc();
  }

  void stopSession() {
    clearCaches(true);
    spark.stop();
    SparkSession.clearActiveSession();
    SparkSession.clearDefaultSession();
  }

  /** Drops Spark's cached relations and the program's memo; with
   *  `codegen`, also the JVM-wide generated-class cache, so the next op
   *  compiles its code as a first issue of a new query shape would. */
  void clearCaches(boolean codegen) {
    spark.catalog().clearCache();
    graft.api.ResultCache.clear();
    if (codegen) {
      try {
        Object gen = Class.forName(
            "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
            .getField("MODULE$").get(null);
        Method cache = gen.getClass().getDeclaredMethod("cache");
        cache.setAccessible(true);
        Object c = cache.invoke(gen);
        c.getClass().getMethod("invalidateAll").invoke(c);
      } catch (ReflectiveOperationException e) {
        throw new IllegalStateException("cannot clear the codegen cache", e);
      }
    }
  }

  @SuppressWarnings("unchecked")
  static Function2<SparkSession, String, Dataset<Row>> query(String name) {
    return (Function2<SparkSession, String, Dataset<Row>>)
        graft.SparkEntry.queries().apply(name);
  }

  Map<String, String> oracleSql() {
    Map<String, String> all = CollectionConverters.asJava(graft.SparkEntry.oracleSql());
    Map<String, String> out = new HashMap<>();
    for (Map<String, Object> op : ops) {
      String n = (String) op.get("name");
      if (all.containsKey(n)) out.put(n, all.get(n));
    }
    return out;
  }

  // ---------------------------------------------------------- timed window

  /** adhoc and curate: the plan's seeded passes over the op list. adhoc
   *  clears every cache before each op; curate runs a pass as one session
   *  and clears only at pass start. */
  void runPasses(long windowStart) throws Exception {
    boolean perOpClear = plan.get("clear").asText().equals("op");
    boolean trace = plan.get("trace").asBoolean();
    JsonNode order = plan.get("passes");
    for (int p = 0; p < order.size(); p++) {
      boolean traced = traced(trace, p);
      Tracer tracer = traced ? Tracer.attach(spark) : null;
      long t0 = System.nanoTime();
      if (!perOpClear) clearCaches(true);
      double opSum = 0;
      for (JsonNode q : order.get(p)) {
        if (perOpClear) clearCaches(true);
        Map<String, Object> op = newOp("query", q.asText(), p, tracer);
        opSum += runQuery(op, tracer);
      }
      passes.add(Map.of("pass", p, "traced", traced, "op_wall_s", opSum,
          "elapsed_s", (System.nanoTime() - t0) / 1e9));
      if (tracer != null) tracer.detach();
      if (pastLimit(windowStart, trace)) break;
    }
  }

  /** A traced run's passes are untraced, untraced, traced, untraced: the
   *  first warms the JVM, and the traced pass is set against the untraced
   *  ones on either side of it. */
  static boolean traced(boolean trace, int pass) {
    return trace && pass == 2;
  }

  /** The window runs every pass of the plan; its first pass warms the JVM,
   *  and run.py leaves that pass's times out of the end-to-end metrics.
   *  Only on a host far slower than the plan assumed does the window close
   *  early: once it holds a measured pass (and, traced, the four passes the
   *  overhead reading needs), no pass starts that would end past the limit. */
  boolean pastLimit(long windowStart, boolean trace) {
    double elapsed = (System.nanoTime() - windowStart) / 1e9;
    if (passes.size() < (trace ? 4 : 2)) return false;
    double measured = 0;
    for (Map<String, Object> p : passes.subList(1, passes.size())) {
      measured += (Double) p.get("elapsed_s");
    }
    return elapsed + measured / (passes.size() - 1) > plan.get("window_limit_s").asDouble();
  }

  /** refresh: each cycle merges a seeded change batch into each of the
   *  private table copies and swaps it in, clears the session cache (the
   *  README contract; the self-test skips it once), then issues the fixed
   *  query set once as `query` ops and again as `repeat` ops. */
  void runRefresh(long windowStart) throws Exception {
    boolean trace = plan.get("trace").asBoolean();
    int skipClear = plan.path("skip_clear_cycle").asInt(-1);
    JsonNode cycles = plan.get("cycles");
    for (int c = 0; c < cycles.size(); c++) {
      JsonNode cy = cycles.get(c);
      boolean traced = traced(trace, c);
      Tracer tracer = traced ? Tracer.attach(spark) : null;
      long t0 = System.nanoTime();
      double opSum = 0;
      for (JsonNode r : cy.get("refreshes")) {
        opSum += runMerge(newOp("refresh", r.get("table").asText(), c, tracer),
            r.get("batch").asText(), tracer);
      }
      if (c != skipClear) spark.catalog().clearCache();
      for (JsonNode round : cy.get("rounds")) {
        String kind = round.get("kind").asText();
        for (JsonNode q : round.get("queries")) {
          opSum += runQuery(newOp(kind, q.asText(), c, tracer), tracer);
        }
      }
      passes.add(Map.of("pass", c, "traced", traced, "op_wall_s", opSum,
          "elapsed_s", (System.nanoTime() - t0) / 1e9));
      if (tracer != null) tracer.detach();
      if (pastLimit(windowStart, trace)) break;
    }
  }

  Map<String, Object> newOp(String kind, String name, int pass, Tracer tracer) {
    Map<String, Object> op = new LinkedHashMap<>();
    op.put("i", ops.size());
    op.put("kind", kind);
    op.put("name", name);
    op.put("pass", pass);
    op.put("traced", tracer != null);
    ops.add(op);
    return op;
  }

  double runQuery(Map<String, Object> op, Tracer tracer) {
    Path out = runDir.resolve("out").resolve(String.valueOf(op.get("i")));
    return timed(op, tracer, () -> query((String) op.get("name")).apply(spark, dataDir.toString()),
        df -> df.write().mode("overwrite").parquet(out.toString()), out);
  }

  /** One refresh op: build the merged table through graft.api.Upsert,
   *  land it beside the live copy, then swap it in. The replaced version
   *  is kept under retired/ so run.py can check every version written. */
  double runMerge(Map<String, Object> op, String batch, Tracer tracer) {
    String table = (String) op.get("name");
    Path live = dataDir.resolve(table + ".parquet");
    Path stage = runDir.resolve("stage");
    op.put("batch", batch);
    return timed(op, tracer, () -> {
      try {
        Method m = graft.Tables.class.getMethod(table, SparkSession.class, String.class);
        @SuppressWarnings("unchecked")
        Dataset<Row> target = (Dataset<Row>) m.invoke(null, spark, dataDir.toString());
        Dataset<Row> changes = spark.read().parquet(batch);
        return graft.api.Upsert.mergeInto(target, changes, KEYS.get(table), "op", "src")
            .drop("src");
      } catch (ReflectiveOperationException e) {
        throw new IllegalStateException(e);
      }
    }, df -> {
      df.write().mode("overwrite").parquet(stage.toString());
      try {
        Path gone = runDir.resolve("retired").resolve(table + "-" + liveProducer.get(table));
        Files.createDirectories(gone.getParent());
        Files.move(live, gone, StandardCopyOption.ATOMIC_MOVE);
        Files.move(stage, live, StandardCopyOption.ATOMIC_MOVE);
        liveProducer.put(table, (Integer) op.get("i"));
      } catch (IOException e) {
        throw new IllegalStateException(e);
      }
    }, live);
  }

  interface Build { Dataset<Row> get() throws Exception; }
  interface Land { void accept(Dataset<Row> df) throws Exception; }

  /** Times one op as build (the program call returning the DataFrame,
   *  including any eager driver loops) plus land (materializing the whole
   *  answer as parquet). A throw is recorded, never retried. */
  double timed(Map<String, Object> op, Tracer tracer, Build build, Land land, Path out) {
    spark.sparkContext().setLocalProperty(OP_TAG, String.valueOf(op.get("i")));
    if (tracer != null) tracer.begin();
    long startMs = System.currentTimeMillis();
    long t0 = System.nanoTime();
    long t1 = t0;
    long buildEndMs = startMs;
    try {
      Dataset<Row> df = build.get();
      t1 = System.nanoTime();
      buildEndMs = System.currentTimeMillis();
      if (tracer != null) tracer.built(df);
      land.accept(df);
    } catch (Throwable e) {
      if (t1 == t0) { t1 = System.nanoTime(); buildEndMs = System.currentTimeMillis(); }
      String msg = String.valueOf(e.getMessage());
      op.put("error", e.getClass().getSimpleName() + ": "
          + msg.substring(0, Math.min(400, msg.length())));
    }
    long t2 = System.nanoTime();
    long endMs = System.currentTimeMillis();
    spark.sparkContext().setLocalProperty(OP_TAG, null);
    double wall = (t2 - t0) / 1e9;
    op.put("wall_s", wall);
    op.put("build_s", (t1 - t0) / 1e9);
    op.put("land_s", (t2 - t1) / 1e9);
    op.put("out", out.toString());
    if (tracer != null) {
      op.put("trace", tracer.end(startMs, buildEndMs, endMs, String.valueOf(op.get("i"))));
    }
    return wall;
  }

  // ----------------------------------------------------------------- tracing

  /** Listener-side spans and counters for the ops of one traced pass.
   *  Events arrive on Spark's listener bus; begin() and end() drain the
   *  bus so every event of an op is delivered before the op is closed. */
  static final class Tracer extends SparkListener implements QueryExecutionListener {
    final SparkSession spark;
    final SparkContext sc;
    List<long[]> jobs = new ArrayList<>();
    List<String> jobTags = new ArrayList<>();
    final Map<Integer, Long> stageSubmit = new HashMap<>();
    List<long[]> stages = new ArrayList<>();
    List<Map<String, Object>> executions = new ArrayList<>();
    final Map<String, Long> blockBytes = new HashMap<>();
    long storageBytes;
    long storagePeak;
    long blocksDropped;
    long[] task = new long[16];
    long codegen0, gc0, jit0;

    Tracer(SparkSession spark) {
      this.spark = spark;
      this.sc = spark.sparkContext();
    }

    static Tracer attach(SparkSession spark) {
      Tracer t = new Tracer(spark);
      t.sc.addSparkListener(t);
      ((org.apache.spark.sql.classic.SparkSession) spark).listenerManager().register(t);
      return t;
    }

    void detach() {
      drain();
      sc.removeSparkListener(this);
      ((org.apache.spark.sql.classic.SparkSession) spark).listenerManager().unregister(this);
    }

    void drain() {
      try {
        sc.listenerBus().waitUntilEmpty();
      } catch (java.util.concurrent.TimeoutException e) {
        throw new IllegalStateException(e);
      }
    }

    void begin() {
      drain();
      synchronized (this) {
        jobs = new ArrayList<>();
        jobTags = new ArrayList<>();
        stages = new ArrayList<>();
        executions = new ArrayList<>();
        task = new long[16];
        storagePeak = storageBytes;
        blocksDropped = 0;
      }
      for (MemoryPoolMXBean p : ManagementFactory.getMemoryPoolMXBeans()) {
        if (p.getType() == MemoryType.HEAP) p.resetPeakUsage();
      }
      codegen0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime();
      gc0 = gcMs();
      jit0 = ManagementFactory.getCompilationMXBean().getTotalCompilationTime();
    }

    Map<String, Object> end(long startMs, long buildEndMs, long endMs, String tag) {
      long codegen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime() - codegen0;
      long gc = gcMs() - gc0;
      long jit = ManagementFactory.getCompilationMXBean().getTotalCompilationTime() - jit0;
      long heapPeak = 0;
      for (MemoryPoolMXBean p : ManagementFactory.getMemoryPoolMXBeans()) {
        if (p.getType() == MemoryType.HEAP) heapPeak += p.getPeakUsage().getUsed();
      }
      drain();
      Map<String, Object> t = new LinkedHashMap<>();
      synchronized (this) {
        t.put("start_ms", startMs);
        t.put("build_end_ms", buildEndMs);
        t.put("end_ms", endMs);
        t.put("jobs", jobs);
        long foreign = jobTags.stream().filter(x -> !tag.equals(x)).count();
        t.put("untagged_jobs", foreign);
        t.put("stages", stages);
        t.put("executions", executions);
        String[] names = {"tasks", "run_ms", "cpu_ns", "gc_ms", "peak_exec_mem",
            "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms", "spill_disk_bytes",
            "spill_mem_bytes", "input_bytes", "input_rows", "output_bytes", "output_rows",
            "task_wait_ms"};
        for (int i = 0; i < names.length; i++) t.put(names[i], task[i]);
        t.put("storage_peak_bytes", storagePeak);
        t.put("blocks_dropped", blocksDropped);
      }
      t.put("codegen_ns", codegen);
      t.put("jvm_gc_ms", gc);
      t.put("jit_ms", jit);
      t.put("heap_peak_bytes", heapPeak);
      return t;
    }

    static long gcMs() {
      long s = 0;
      for (GarbageCollectorMXBean g : ManagementFactory.getGarbageCollectorMXBeans()) {
        s += Math.max(0, g.getCollectionTime());
      }
      return s;
    }

    @Override public synchronized void onJobStart(SparkListenerJobStart e) {
      String tag = e.properties() == null ? null : e.properties().getProperty(OP_TAG);
      jobTags.add(tag);
      jobs.add(new long[] {e.jobId(), e.time(), -1});
    }

    @Override public synchronized void onJobEnd(SparkListenerJobEnd e) {
      for (long[] j : jobs) if (j[0] == e.jobId()) j[2] = e.time();
    }

    @Override public synchronized void onStageSubmitted(SparkListenerStageSubmitted e) {
      long at = e.stageInfo().submissionTime().isDefined()
          ? (Long) e.stageInfo().submissionTime().get() : System.currentTimeMillis();
      stageSubmit.put(e.stageInfo().stageId(), at);
    }

    @Override public synchronized void onStageCompleted(SparkListenerStageCompleted e) {
      var si = e.stageInfo();
      long sub = stageSubmit.getOrDefault(si.stageId(), -1L);
      long done = si.completionTime().isDefined() ? (Long) si.completionTime().get() : -1L;
      stages.add(new long[] {si.stageId(), sub, done, si.numTasks()});
    }

    @Override public synchronized void onTaskEnd(SparkListenerTaskEnd e) {
      TaskMetrics m = e.taskMetrics();
      task[0]++;
      long sub = stageSubmit.getOrDefault(e.stageId(), e.taskInfo().launchTime());
      task[14] += Math.max(0, e.taskInfo().launchTime() - sub);
      if (m == null) return;
      task[1] += m.executorRunTime();
      task[2] += m.executorCpuTime();
      task[3] += m.jvmGCTime();
      task[4] = Math.max(task[4], m.peakExecutionMemory());
      task[5] += m.shuffleWriteMetrics().bytesWritten();
      task[6] += m.shuffleReadMetrics().totalBytesRead();
      task[7] += m.shuffleReadMetrics().fetchWaitTime();
      task[8] += m.diskBytesSpilled();
      task[9] += m.memoryBytesSpilled();
      task[10] += m.inputMetrics().bytesRead();
      task[11] += m.inputMetrics().recordsRead();
      task[12] += m.outputMetrics().bytesWritten();
      task[13] += m.outputMetrics().recordsWritten();
    }

    @Override public synchronized void onBlockUpdated(SparkListenerBlockUpdated e) {
      BlockUpdatedInfo b = e.blockUpdatedInfo();
      if (!b.blockId().isRDD()) return;
      String id = b.blockId().name();
      long now = b.memSize() + b.diskSize();
      long before = blockBytes.getOrDefault(id, 0L);
      if (now == 0) blockBytes.remove(id); else blockBytes.put(id, now);
      if (before > 0 && b.memSize() == 0 && b.diskSize() == 0) blocksDropped++;
      storageBytes += now - before;
      storagePeak = Math.max(storagePeak, storageBytes);
    }

    /** The returned DataFrame was analyzed (and, for SQL text, parsed)
     *  while it was built; its own tracker holds those phases. */
    void built(Dataset<Row> df) {
      execution("build", ((org.apache.spark.sql.classic.Dataset<Row>) df).queryExecution(), -1);
    }

    @Override public void onSuccess(String func, QueryExecution qe, long durationNs) {
      execution(func, qe, durationNs);
    }

    synchronized void execution(String func, QueryExecution qe, long durationNs) {
      Map<String, Object> x = new LinkedHashMap<>();
      x.put("func", func);
      x.put("duration_ns", durationNs);
      long first = Long.MAX_VALUE;
      for (var ph : CollectionConverters.asJava(qe.tracker().phases()).entrySet()) {
        QueryPlanningTracker.PhaseSummary s = ph.getValue();
        x.put(ph.getKey() + "_ms", s.durationMs());
        first = Math.min(first, s.startTimeMs());
      }
      x.put("start_ms", first == Long.MAX_VALUE ? -1 : first);
      executions.add(x);
    }

    @Override public void onFailure(String func, QueryExecution qe, Exception e) {
      execution(func, qe, -1);
    }
  }

  // ------------------------------------------------------------ host context

  /** The calibration loop graft.Bench takes: a fixed single-threaded
   *  integer loop (steady state, retried once on a spike) and the same
   *  loop on every core at once, as a ratio to the scalar reading. These
   *  are context for a noisy run, not metrics. */
  static Map<String, Double> calibration() throws InterruptedException {
    burn();
    double a = burn(), b = burn();
    double scalar = Math.abs(a - b) / Math.min(a, b) <= 0.10
        ? Math.min(a, b) : Math.min(Math.min(a, b), burn());
    int n = Runtime.getRuntime().availableProcessors();
    double[] times = new double[n];
    Thread[] ts = new Thread[n];
    for (int i = 0; i < n; i++) {
      final int k = i;
      ts[i] = new Thread(() -> times[k] = burn());
      ts[i].start();
    }
    double sum = 0;
    for (int i = 0; i < n; i++) { ts[i].join(); sum += times[i]; }
    return Map.of("scalar_s", scalar, "mt_ratio", sum / n / scalar);
  }

  static double burn() {
    long t0 = System.nanoTime();
    long s = 0;
    for (long i = 0; i < 200_000_000L; i++) s += i ^ (i >> 3);
    if (s == 42L) System.out.println();
    return (System.nanoTime() - t0) / 1e9;
  }

  static long vmHwmKb() throws IOException {
    for (String line : Files.readAllLines(Path.of("/proc/self/status"))) {
      if (line.startsWith("VmHWM:")) return Long.parseLong(line.replaceAll("[^0-9]", ""));
    }
    return -1;
  }

  static void deleteTree(Path p) throws IOException {
    if (!Files.exists(p)) return;
    try (Stream<Path> s = Files.walk(p)) {
      for (Path x : s.sorted(Comparator.reverseOrder()).toList()) Files.delete(x);
    }
  }
}
