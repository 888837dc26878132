package graft

import java.nio.ByteBuffer

/** Byte pins for every entry of the one fixture table
  * ([[SparkEntry.fixtures]]), on-disk and in-plan alike. The on-disk
  * files are cached under java.io.tmpdir by existence only, so a
  * changed byte would be served stale from a warm tmp and show only on
  * a cold run; these digests catch it at test time instead. The
  * in-plan payloads feed n_bytes/md5 outputs and the oracle formulas,
  * so a changed byte changes query results.
  *
  * Each digest is SHA-256 over ids 0–299 (every id % 50/5/4/3/2
  * case), per id an 8-byte big-endian length and then the payload
  * bytes. The on-disk digests were taken from the files the fixtures
  * wrote before their writers were folded onto one record framer
  * (`zip_stream_v2`: from its fixed-time writer). The in-plan digests
  * were taken from the `(media_id, payload)` rows each query's own
  * payload frame fed `Multimodal.asMedia` over a 300-id
  * documents.parquet, before the frames were folded into the table
  * (`nb_q291`: the UTF-8 bytes of its notebook JSON string). Changing
  * an on-disk fixture means bumping its `_vN` dir tag and re-pinning
  * its digest here. */
class FixtureBytesSpec extends SparkSpec {

  private val pinned = Map(
    // on-disk
    "avi_v6_v1" -> "1ae6604ab37bbd488e4edfc259fa41c6a94e85d7bd59375ec4006352758efbdf",
    "tar_stream_v1" -> "6dbc73e924b7afff883679178200b9c1dccb49a67b3018db097e177d3e45e5af",
    "tar_xz_v1" -> "9b099503a0e91f9e56989587eb8d55c48cfe6cbc4939f1539645f4cab277849f",
    "tar_zst_v1" -> "d762851d1262562e0d5a0f7f8922485f5c34171bf5617843c041a7e626ffcc1f",
    "warc_br_v1" -> "e1741bf525fab5d8fa4440f9adff3680e1b2536accf3a9eae80b8979d0f73245",
    "warc_bz2_v1" -> "48ac4c9b0b8e631338663bb7d83dacf7cb9c1f7a2d5014d231201c4cf3666bfc",
    "warc_docs_v1" -> "69afc801a2d6f14af7304fbcb730e6614e94ba3099458332e174608965f99d8b",
    "warc_stream_v1" -> "0d40825950af8755eaddd5b43688162ad92f0ce3fb71a6c247f09556a96f9087",
    "warc_v10_v1" -> "a89df85aecd0dfbd8b2728a59ed1a7aaffa7744aa746995b948e0968bae13ed4",
    "warc_v11_v1" -> "a32b142da46cbf9a0cdff5fd3aba368adb8ab3822fd97056b67598056225c5d1",
    "warc_v12_v1" -> "05760903015b3a531377014239324d65d6828f7b2fbdf1e9d06131eb0f3866af",
    "warc_v13_v1" -> "7b69f37e961e38356b78d81ca271d3e949abdec79b8201019a9b94c7183fdf60",
    "warc_v14_v1" -> "9d647d59e6c5c7bc11d2b25949ba9fd961172524664d0f6c6e81295f1164b4d9",
    "warc_v15_v1" -> "51dc359d4392569643d44af36915137f8d9d42b0dde7964cff995b3f7316a04a",
    "warc_zst_v1" -> "add49bacbfaed515314d5a77ab19e6130e440e34e5eee681f2b4b1cbed30c3ea",
    "zip_stream_v2" -> "c9f63326aa71ce3c62667d792760a1a98edb71722b4e1d5f6f835559f94fa419",
    // in-plan
    "wav_q233" -> "4f3254d24bb019fed270689b6870ae3db62a932ce4b4d0c83b0afc3690b0b7ec",
    "bmp_q234" -> "8c68f0d5fb64244975a457a858cf8c5611ac5e1ca14bad4a8a41799fd9fe05a9",
    "gif_q235" -> "64ecf104c12522b410c968a278382b29e709b43c08a3d9603cf242905f596c1f",
    "png_q242" -> "4facf30e3439a9be8579d5db87366a020305a827cfed623639cddeb7bc67cb4f",
    "jpg_q243" -> "ddd684b9492e9b0aad5e5d7bdba82ff44c954da729d2bd89e3774f40be26920c",
    "png_q244" -> "2c2a416ac5627fd3200c9453a13c73901f77ea177ede30ccc0dd22def72244af",
    "gif_q245" -> "9378ddaeeccb58d363bbfdfda92f2e3778c3bff9ea9caa0d385a2fe2e77ab06c",
    "jpg_q246" -> "493dd6cfcb4e3ab0c0d3d4fd051612079a7eff5be0a0a33e2f409b9893d702dd",
    "tif_q247" -> "af5239113ae022a10f1fd904b6d674800ecb82c8fde151c515c06e218c5adfbc",
    "snd_q248" -> "5eaf9f7fcc398d3bda943749b1a112224299f212cc649e174b79311beb549db7",
    "ico_q249" -> "272e4395fbbb1b6b7d0c7326087124ce5c5728ef7e86b967c97a016d4e83e9ad",
    "mixed_q250" -> "6b6f92f89ec92611d497d42cb75430c7f43c96e5f42758202cceeabf9d437ac9",
    "img_q251" -> "b52fe7c97d329d10c9c393f222b8d338e9a3e18d444e3746faf8dbe4539201e2",
    "img_q252" -> "1edbfef9a477a16babae968a745038638c254da84f91ea037f28058b1a032ebd",
    "snd_q253" -> "b9400150c16a9d4d9191d04a0bdb6149b6659d25e485ca3179a18337752a4510",
    "vid_q254" -> "2f2107c182d9c9dcc84faf242865daa3e8d1bb76dc9048a615a2c83b63175348",
    "vid_q255" -> "1ea3e6fffabab2aede211cd834c33cb4a7602806fe0c946f7f923b25aa4bacbc",
    "img_q256" -> "1d82ee86e2230d986e46dc1127cdaf30eb8e60f565bce6cc5f1bd74b50b76c91",
    "snd_q257" -> "f03438dfd67aac43987a222e8f9cfbf34acead4a5eb46dfdddd891cfd1b236fd",
    "vid_q258" -> "764cb4d61106c9fcf1442ffc27191c8174bc122b67e1941231d6e184c766a223",
    "vid_q259" -> "74f4fba3ff705c7197c12b67e62ac2334cb86951bfc65b9ae0858b19dc45adf6",
    "vid_q260" -> "8f6f52309dac3dd22e92a117e840e830c79a1ab76a18ed65d3387809bb4b2c32",
    "sub_q261" -> "06ff0ddb2325ae6d1c76fae52f1c7305a001633b32869a4e8066658cd692428f",
    "vid_q262" -> "13ae67a4615b98f94bd02bbbaee389ba9d8c711f480fe80ec8f6fab7cfb9ef22",
    "sub_q263" -> "71372b2829b34eb79d1a32b06425456809192fc5fceafc607905256ae52f711e",
    "vid_q263" -> "e34e223579d7bcf6d6dd437fe5cdfaf4571da3dee75ebf4549ef98cb7b79a26c",
    "sub_q264" -> "c934865f7253c41db9201e8e7cd9ed6a53ef2bc1516694838e60f212ed5c80b2",
    "sub_q265" -> "5d90b6dc3c410cdfba16e671205e904470814fc785d46e55cb00edb92c87fe8d",
    "sub_q266" -> "2448777d237afc2430cfbd0c012d5e9aaae96354b31e5268e94bacb7550106a4",
    "arc_q268" -> "da0a1c568792897f506987a483aa029f8687e1ac2bc559502d359965bc896ee2",
    "arc_q269" -> "f8b325fcc774ca91cbc31e498defcb7c03124a89727bd45d5379f868837ac1e0",
    "warc_q273" -> "28ba8ca6b42ef94db929ccf52f9cd0c16702c215c9e5ac29dd5c2c322f70f861",
    "vid_q274" -> "1bf23ef25622f122d4626ac3fc45972b0542f77b471a3258ffbad9eb5f6a5aed",
    "warc_q277" -> "3426d00414f223cf2e864bd015ac9f4e692accc713383777c2d172d0654ce5c5",
    "warc_q281" -> "1b78e6e5508cb6293694ca3b4494e01df30e5de8fd8dbd380d7462e15f688f41",
    "pdf_q285" -> "2d585d7d462950b94dc4c390006f5b05c47d5be78e0f8943744bf8ce4be1a910",
    "office_q286" -> "fc8a240e558ee4dbd28e2a59e687df8ea4ff23ec68114eb9c0dc475f3cfdfc09",
    "nb_q291" -> "a5b178a45cee5fad6a3bddf2a5c32b8bcc29756504245c81cdfd556be0ddff7f",
    "warc_q292" -> "5bb4a62d0305fe52362443bd8f88b2ae1104176511611df6d117474b3075922a",
    "img_q293" -> "8b18382a7b3dd030030f42bb76ef57e08f91b4479210539230613f2fb639166b",
    "warc_q294" -> "3df3b3b973673a35b7ff75f26fccc66b7659f3230f1967beeacc62ac4197736c",
    "pdf_q295" -> "c643a836f5fc2e8ba805ce37dabdf25ac3cc95334812b0da0ffda9e09ef346cd",
    "warc_q296" -> "f5775b951788df171388db03b331607ef043c7d4e17813766d90f34e22d446c6",
    "warc_q297" -> "c0e7aae17ca97dbcacb793a988bc6a48885fc43928a5f11af463b319884ec904",
    "office_q299" -> "98e61b639c75c223b10264511be4cfb597cc193cf0ba7b607f7635deb9e0e7dc",
    "office_q303" -> "979221e046109ce924a0990b1b6472e2b1ba85b55ce0c2f9a25a59f608a0ec8b",
    "warc_q304" -> "1655b37b1238302d22d8fb041f149af5315a76ff140385d78e58b26e623bedd3",
    "warc_q305" -> "a97d9adacaf90e8ec0222bb158bea3cbfe0c8a0889f5894b3bd747e2d58ed76b",
    "webp_q307" -> "926a4dce777336b8444df5e043c980bd11f096e263efda99cd9114e14c8a6a6d",
    "webp_q309" -> "c708025cafe47e9e5654e9dac760a725ff454aaa89ef9ea202f9d83922f103bf",
    "arc_q310" -> "298a832926dc911f6506882217cd347c7b3bd28c3a80bb78c5251122f83b26be",
    "webp_q311" -> "96a3e41b9c3b281c874d7e92f65ee4c4e80d41c7cf5660c7599d11409909c8be",
    "warc_q312" -> "a3fbd8bb9e2e804163124dadb9a49f9dfca7856167dceb52583786d69b4fffa0",
    "mbox_q313" -> "c9fd59d80c92e60ea871069df9004ebd9d6e01b53d47ef5064b85a89ea6ee3cc",
    "pdf_q314" -> "af9d5b59d8553be83b56ad14aaafe5dc24af74bd9a30c4e5a871e43bf8249982",
    "sz_q316" -> "d5305d793a353a21944f0772df19c310d153689474ab06d56169ca80cd453970",
    "warc_q317" -> "fc869500b99ee4ccbca24c5cb101bfe5fa257a19fb20ba6afa6ca44824c745d1",
    "warc_q318" -> "020a2e979138849bb19a8f45e65f3c058698aa913e2a468d31a54aeaea1dd5ec",
    "flac_q321" -> "451e782339bff32988eab62a2f5252aabbba5eee58c90aca775ff198d03e42d4",
    "ogg_q322" -> "031ac6aa1dd7728e704e02301ff7a0408e2d47b774d66464c9763693fb98df86",
    "mp3_q324" -> "14a071a130ba705644a915d991c5238f8df904adf98c5bd0a6e5af830f18b681",
    "arc_q328" -> "ccc89b446410e4a07b40fe7b87cb3b30ed5c5ec715ac8ac0fb43645054f3ded1",
    "heif_q333" -> "c997aeba55ef651ab6af5274fba946d5fbb962faf1063fb2182dfd9b58ac3283",
    "warc_q334" -> "58a17bcda0d1cf0cc59228c00b6c9784ba5d71aef2cc6fea24f98808b8ba0674",
    "webp_q335" -> "01a1849b9d7b7523827712bd985c7764c122466ae9dda561714c3e743c8f520c",
    "webp_q338" -> "74d05bb4329767b4c60ab8c5e7e522048e7ff4df9ccd9c3335ed7d98f59c7c68",
    "warc_q340" -> "7a3e9dd32891cfbdd1fba935fa4a4389e3da504c25628180046ae3d1a4cb9371",
    "warc_q345" -> "da1ae67902c9f8b1c730f775233259ccaae86a0d420da62e6b4bf47d07faa127",
    "warc_q348" -> "f366da15eca303273b65c336acd36bd00e0d2960885b696685ffc6bf578c2e74",
    "warc_q349" -> "301d7d2144699a9fe76d5212bbeb990e0fb4a74be7b5dc8895713e0edffe850e",
    "warc_q352" -> "3f1e188822ab248e499fc3dcf64d15e8bf528e25f36d5d64acf70721c538c3e2",
    "warc_q353" -> "8da12d6307ff7a64b1124011e641184c311411d6b9cfbac9461e5544530a4275",
    "warc_q354" -> "f2cc159a060b356e65782e59af5ab0d99f0e646620c674df4eb2fd2094895b35",
    "warc_q355" -> "aa42e5554fc698b0a64f2305c70b7fa5d5452270656066efc2654c0370f71cc8",
    "warc_q356" -> "c1121a9b6c699925ea95d530f10428abe71476305d56442ac0e3b460b56312bd",
    "warc_q357" -> "3159c5468d7bbf869759d8c09202fc85228d05f28303cc95cc8f811ad0dc5032",
    "warc_q359" -> "033fcdd273b03dbe0884153a7c79a48fcf9b819043c8037d0efb46989bdaf082")

  private def digest(bytes: Long => Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (0L until 300L).foreach { id =>
      val b = bytes(id)
      md.update(ByteBuffer.allocate(8).putLong(b.length.toLong).array())
      md.update(b)
    }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  private def del(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(del)); f.delete(); ()
  }

  test("every fixture has a pinned digest") {
    assert(SparkEntry.fixtures.keySet == pinned.keySet)
  }

  SparkEntry.fixtures.toSeq.sortBy(_._1).foreach { case (tag, mk) =>
    test(s"$tag: bytes of ids 0-299 match the pinned digest") {
      assert(digest(mk) == pinned(tag))
    }
  }

  test("fixtureFiles caches by existence and regenerates a deleted file") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fx-spec").toFile
    val mk = SparkEntry.fixtures("warc_v15_v1")
    def write() = SparkEntry.fixtureFiles(spark.range(20).as[Long], dir,
      "w%08d.warc")(mk)
    def bytesOf(p: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p))
    try {
      val first = write()
      assert(first == first.sorted && first.size == 20)
      assert(first.map(p => new java.io.File(p).getParentFile) ==
        Seq.fill(20)(dir.getAbsoluteFile))
      first.zipWithIndex.foreach { case (p, id) =>
        assert(new java.io.File(p).getName == f"w$id%08d.warc")
        assert(bytesOf(p).sameElements(mk(id.toLong)), p)
      }
      // back-date every file: a rewrite would move its mtime
      val old = 1000000000000L
      first.foreach(p => assert(new java.io.File(p).setLastModified(old)))
      assert(write() == first)
      assert(first.forall(p => new java.io.File(p).lastModified == old))
      val gone = new java.io.File(first(7))
      assert(gone.delete())
      assert(write() == first)
      assert(bytesOf(first(7)).sameElements(mk(7L)))
      assert(first.filterNot(_ == first(7))
        .forall(p => new java.io.File(p).lastModified == old))
      assert(dir.list().forall(_.endsWith(".warc")), "a .part file leaked")
    } finally del(dir)
  }
}
