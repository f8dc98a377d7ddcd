package graft

import java.nio.file.Files

/** The CLI surface end-to-end: GraftApp --once against the in-JVM broker. */
class GraftAppSpec extends SparkTestBase {
  import spark.implicits._

  test("GraftApp runs the full bridge from CLI args") {
    val broker = new MqttTestBroker()
    val outDir = Files.createTempDirectory("app_out").toString + "/data"
    try {
      // publish after the source subscribes: do it from a thread with retry
      val publisher = new Thread(() => {
        var tries = 0
        while (broker.subscriberCount == 0 && tries < 200) { Thread.sleep(50); tries += 1 }
        broker.publish("iot/a/x", """{"v": 1}""")
        broker.publish("iot/b/y", """{"v": 2}""")
        broker.publish("iot/a/z", "broken {")
        Thread.sleep(400) // let them reach the driver buffer before --once drains
      })
      publisher.start()
      val sessionConf = Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone")
      val before = sessionConf.map(spark.conf.get)
      GraftApp.main(Array(
        "--mqtt-url", broker.url,
        "--topic", "iot/#",
        "--stream-id-template", "s/$topic",
        "--truncate-topic", "1",
        "--payload-schema", "v INT",
        "--transform", """{"v10": v * 10}""",
        "--out-dir", outDir,
        "--once"))
      publisher.join()
      // main reuses the shared session untouched (no conf written onto it)
      assert(sessionConf.map(spark.conf.get) == before)

      val out = spark.read.parquet(outDir)
      assert(out.count() == 2)
      val ids = out.select("stream_id").as[String].collect().toSet
      assert(ids == Set("s/iot/a", "s/iot/b"))
      val v10 = out.selectExpr("get_json_object(value_json, '$.v10')").as[String].collect().map(_.toInt).toSet
      assert(v10 == Set(10, 20))
    } finally broker.close()
  }

  test("--publish-mqtt-url: CLI bridge publishes routed records back over MQTT") {
    val broker = new MqttTestBroker()
    val outDir = Files.createTempDirectory("app_pub_out").toString + "/data"
    try {
      val sub = new graft.sources.mqtt.MqttClient(broker.url, Seq("s/#")).start()
      assert(sub.awaitConnected())
      val publisher = new Thread(() => {
        // wait for BOTH the source and the round-trip listener
        var tries = 0
        while (broker.subscriberCount < 2 && tries < 200) { Thread.sleep(50); tries += 1 }
        broker.publish("iot/a/x", """{"v": 7}""")
        Thread.sleep(400)
      })
      publisher.start()
      GraftApp.main(Array(
        "--mqtt-url", broker.url,
        "--topic", "iot/#",
        "--stream-id-template", "s/$topic",
        "--truncate-topic", "1",
        "--payload-schema", "v INT",
        "--out-dir", outDir,
        "--publish-mqtt-url", broker.url,
        "--once"))
      publisher.join()

      val msgs = scala.collection.mutable.ArrayBuffer.empty[graft.sources.mqtt.MqttMessage]
      var tries = 0
      while (msgs.isEmpty && tries < 100) { msgs ++= sub.poll(); Thread.sleep(30); tries += 1 }
      assert(msgs.map(_.topic).toSeq == Seq("s/iot/a"))
      assert(new String(msgs.head.payload, "UTF-8").contains("\"v\":7"))
      sub.close()
    } finally broker.close()
  }

  test("--infer-schema: transform with no hand-written payload schema") {
    val broker = new MqttTestBroker()
    val outDir = Files.createTempDirectory("app_infer").toString + "/data"
    try {
      val publisher = new Thread(() => {
        // phase 1: feed the schema sampler until it disconnects
        var tries = 0
        while (broker.subscriberCount == 0 && tries < 200) { Thread.sleep(50); tries += 1 }
        while (broker.subscriberCount > 0) {
          broker.publish("iot/a/x", """{"v": 1, "w": "sample"}""")
          Thread.sleep(50)
        }
        // phase 2: the streaming source subscribes; publish the real records
        tries = 0
        while (broker.subscriberCount == 0 && tries < 200) { Thread.sleep(50); tries += 1 }
        broker.publish("iot/a/x", """{"v": 5, "w": "hi"}""")
        broker.publish("iot/b/y", """{"v": 6, "w": "yo"}""")
        Thread.sleep(400)
      })
      publisher.start()
      GraftApp.main(Array(
        "--mqtt-url", broker.url,
        "--topic", "iot/#",
        "--stream-id-template", "s/$topic",
        "--truncate-topic", "1",
        "--infer-schema", "--infer-sample", "3", "--infer-timeout", "15",
        "--transform", """{"v2": v * 2, "wu": $uppercase(w)}""",
        "--out-dir", outDir,
        "--once"))
      publisher.join()

      val out = spark.read.parquet(outDir)
      assert(out.count() == 2)
      val got = out.selectExpr(
        "get_json_object(value_json, '$.v2')", "get_json_object(value_json, '$.wu')")
        .as[(String, String)].collect().toSet
      assert(got == Set(("10", "HI"), ("12", "YO")))
    } finally broker.close()
  }

  test("parseArgs enforces required options and rejects unknown flags") {
    intercept[IllegalArgumentException](
      GraftApp.parseArgs(Array("--topic", "a")))
    intercept[IllegalArgumentException](
      GraftApp.parseArgs(Array("--mqtt-url", "tcp://x:1", "--topic", "a", "--out-dir", "/tmp/o", "--bogus")))
    val ok = GraftApp.parseArgs(Array(
      "--mqtt-url", "tcp://x:1", "--topic", "a/+", "--topic", "b/#",
      "--out-dir", "/tmp/o", "--public", "--dry-run", "--private-key", "k3y"))
    assert(ok.cfg.topics == Seq("a/+", "b/#"))
    assert(ok.cfg.publicStreams && ok.cfg.dryRun)
    assert(ok.cfg.privateKey.contains("k3y"))
  }

  test("parseArgs wires and validates the stream-id overflow guard flags") {
    def base(extra: String*) = GraftApp.parseArgs(Array(
      "--mqtt-url", "tcp://x:1", "--topic", "a/+", "--out-dir", "/tmp/o") ++ extra)
    val ok = base("--max-stream-ids", "7", "--stream-id-overflow", "sample")
    assert(ok.cfg.maxStreamIdsPerBatch == 7)
    assert(ok.cfg.streamIdOverflow == "sample")
    // defaults match GraftConfig
    assert(base().cfg.maxStreamIdsPerBatch == 100000)
    assert(base().cfg.streamIdOverflow == "fail")
    // mode is validated at parse time, case-sensitively — a typo must not
    // silently fall through to fail mode
    intercept[IllegalArgumentException](base("--stream-id-overflow", "Sample"))
    intercept[IllegalArgumentException](base("--stream-id-overflow", "skip"))
    intercept[IllegalArgumentException](base("--max-stream-ids", "0"))
  }

  test("private key derives a principal recorded on created streams") {
    import graft.streaming.FsStreamRegistry
    val root = Files.createTempDirectory("reg_owner").toString
    val principal = FsStreamRegistry.principalOf("secret-key")
    assert(principal.length == 32 && principal != "secret-key")
    assert(FsStreamRegistry.principalOf("secret-key") == principal) // deterministic
    val reg = new FsStreamRegistry(root, Some(principal))
    reg.ensure("stream-a", publicRead = false)
    reg.ensure("stream-a", publicRead = false) // idempotent
    val ownerFile = new java.io.File(new java.io.File(root, "stream-a"), "_owner")
    assert(Files.readString(ownerFile.toPath) == principal)
  }
}
