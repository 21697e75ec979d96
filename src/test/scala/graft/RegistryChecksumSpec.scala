package graft

/** Pinned outputs of the registry entries that run the shared corpus
  * building blocks (hash-uniform draws, temperature rates, the labeled
  * LogReg split, the stage report, the l22/m18/m19 chain bodies, d20's
  * LSH candidates and the media plants): (rows, xxhash64 sum) from
  * `Bench.checksum` at sf0.001, recorded from the per-entry
  * implementations these entries replaced. A refactor of a building
  * block that moves any output row fails here.
  */
class RegistryChecksumSpec extends SparkSpec {

  private val pinned: Seq[(String, Long, Long)] = Seq(
    ("a45_hll_portable", 5, 6495910354179635959L),
    ("a46_cm_portable", 6, 2994777276311332151L),
    ("a48_dp_release", 25, -1511935221038849462L),
    ("d20_minhash_portable", 28, 8105847908318103225L),
    ("d30_recall_portable", 28, 7809411114119600273L),
    ("l13_temperature_sample", 193, 4234324977337601189L),
    ("l15_cluster_balanced_sample", 500, -892075139936439777L),
    ("l16_corpus_build_report", 6, -4962225773001940605L),
    ("l18_dedup_tokenize_pack", 300, -5029257151394803335L),
    ("l19_full_prep_dag", 300, -5418677412154292124L),
    ("l22_commoncrawl_chain", 5, -6082651063373868064L),
    ("l26_trained_filter_chain", 7, 6194183107587275058L),
    ("m13_audio_dups", 560, 5957085457468935255L),
    ("m14_image_dhash_dups", 375, 7241856558671318054L),
    ("m17_canonical_image", 25, 8984772148047413483L),
    ("m18_multimodal_chain", 8, 7711290650199413975L),
    ("m19_av_chain", 10, 1648741754572155283L),
    ("m20_capped_media_pairs", 504, 3021538528125953996L),
    ("m21_media_decontaminate", 150, -4675577821334603769L),
    ("o08_shuffle_order", 500, 8013223034904570100L),
    ("s11_warc_roundtrip", 200, 7572266863788227358L),
    ("s13_wet_generation", 100, 8988739855984034705L),
    ("s14_tar_wds_roundtrip", 200, 1075880808823725472L),
    ("t20_perplexity_buckets", 500, -6390944922284544080L),
    ("t27_nb_quality_filter", 150, 7678147118844693366L),
    ("t31_kn_perplexity_buckets", 500, 7679093905631607998L),
    ("t34_logreg_quality", 160, 4276682676462409476L),
    ("t35_logreg_persisted", 160, 4276682676462409476L),
    ("t36_filter_calibration", 147, -4129631936000892724L),
    ("t37_operating_point", 1, -242004568701891579L))

  pinned.foreach { case (name, rows, chk) =>
    test(s"$name: checksum unchanged at sf0.001") {
      try assert(Bench.checksum(SparkEntry.queries(name)(spark, sf)) ==
        ((rows, Some(chk))))
      finally CacheScope.harness.release()
    }
  }
}
